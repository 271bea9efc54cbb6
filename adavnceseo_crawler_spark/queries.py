"""Driver-contract operator queries (SURVEY.md §2) with DuckDB oracle SQL.

Each entry is one operator from the inventory, expressed Spark-first over the
driver's testdata tables, with a semantically identical ANSI-SQL oracle that
DuckDB runs on the same parquet.  Conventions for hash parity:

* every computed column is aliased identically on both sides;
* float outputs are rounded (4-6 dp) on both sides — double summation order
  differs between engines at the ULP level;
* DuckDB ``count(*)`` is cast to BIGINT (DuckDB yields INT128 for some sums);
* orderings that feed a LIMIT always carry a total tie-break.

Crawl-specific operators (scoring, politeness, freshness, URL functions) run
over URL/host columns synthesized **inside the query by identical expressions
on both sides** from the relational tables — the oracle then checks the
operator, not the synthesis.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

STOPWORDS_SQL = "('the','a','an','and','or','but','in','on','at','to')"
STOPWORDS = ("the", "a", "an", "and", "or", "but", "in", "on", "at", "to")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Open a table with the schema inferred at its first read in this
    session: inference is a Spark job, so later reads pass the memoized
    schema and submit none.  The memo key is the path's (mtime, size), so a
    rewritten table is inferred again."""
    path = f"{sf_dir}/{name}.parquet"
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    schemas = getattr(spark, "_graft_schemas", None)
    if schemas is None:
        schemas = spark._graft_schemas = {}
    if key not in schemas:
        schemas[key] = spark.read.parquet(path).schema
    return spark.read.schema(schemas[key]).parquet(path)


def q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


# =============================================================================
# Aggregations (A1-A3, A10-A11 analogs)
# =============================================================================
@q(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                AS sum_qty,
           round(sum(l_extendedprice), 2)                           AS sum_base,
           round(sum(l_extendedprice * (1 - l_discount)), 2)        AS sum_disc,
           round(avg(l_quantity), 4)                                AS avg_qty,
           CAST(count(*) AS BIGINT)                                 AS n
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@q(
    "q02_top_sources",
    """
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(n_chars), 2) AS avg_chars
    FROM documents GROUP BY source
    ORDER BY n_docs DESC, source ASC LIMIT 10
    """,
)
def q02(spark, sf):
    """A3: top-10 leaderboard with sub-aggregates (server.js:164-184)."""
    d = _t(spark, sf, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy(F.desc("n_docs"), F.asc("source"))
        .limit(10)
    )


@q(
    "q03_revenue_by_nation",
    """
    SELECT n.n_name AS nation, round(sum(o.o_totalprice), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                  JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q03(spark, sf):
    """J4-style enrichment joins: fact ⋈ dim ⋈ dim (broadcast the dims)."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@q(
    "q04_topk_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, rn FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders) WHERE rn <= 3
    """,
)
def q04(spark, sf):
    """W4: per-group top-k ranking (postgres_storage.py:127-141)."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


@q(
    "q05_events_daily",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(value), 4) AS avg_value
    FROM events GROUP BY 1
    """,
)
def q05(spark, sf):
    """A1: date_histogram day buckets (elasticsearch_storage.py:126-130)."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


@q(
    "q06_domain_stats",
    """
    SELECT event_type AS domain,
           CAST(count(*) AS BIGINT)                 AS total_count,
           CAST(count(DISTINCT user_id) AS BIGINT)  AS distinct_users,
           round(avg(value), 4)                     AS avg_value,
           max(ts)                                  AS last_seen
    FROM events GROUP BY event_type
    """,
)
def q06(spark, sf):
    """A2: per-domain stats (postgres_storage.py:148-170 shape)."""
    e = _t(spark, sf, "events")
    return e.groupBy(F.col("event_type").alias("domain")).agg(
        F.count(F.lit(1)).alias("total_count"),
        F.countDistinct("user_id").alias("distinct_users"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.max("ts").alias("last_seen"),
    )


# =============================================================================
# URL / filter / scalar operators (F1-F11, C1-C17) over synthesized URL columns
# =============================================================================
_URL_SYNTH_SQL = """
      SELECT p_partkey,
             (CASE WHEN p_partkey % 3 = 0 THEN 'https://' WHEN p_partkey % 3 = 1 THEN 'http://' ELSE '' END)
             || 'site' || CAST(p_partkey % 7 AS VARCHAR) || '.example.com/part/'
             || CAST(p_partkey AS VARCHAR) AS raw_url
      FROM part
"""


def _url_synth_spark(spark, sf):
    p = _t(spark, sf, "part")
    scheme = (
        F.when(F.col("p_partkey") % 3 == 0, F.lit("https://"))
        .when(F.col("p_partkey") % 3 == 1, F.lit("http://"))
        .otherwise(F.lit(""))
    )
    return p.select(
        "p_partkey",
        F.concat(
            scheme,
            F.lit("site"),
            (F.col("p_partkey") % 7).cast("string"),
            F.lit(".example.com/part/"),
            F.col("p_partkey").cast("string"),
        ).alias("raw_url"),
    )


@q(
    "q07_url_normalize",
    f"""
    SELECT p_partkey,
           CASE WHEN regexp_matches(raw_url, '^https?://') THEN raw_url
                ELSE 'https://' || raw_url END AS url
    FROM ({_URL_SYNTH_SQL})
    """,
)
def q07(spark, sf):
    """F1: scheme normalization (main.py:96-97)."""
    from .functions.urls import normalize_scheme

    return _url_synth_spark(spark, sf).select(
        "p_partkey", normalize_scheme(F.col("raw_url")).alias("url")
    )


@q(
    "q08_url_hash_host_depth",
    f"""
    WITH u AS (
      SELECT p_partkey,
             CASE WHEN regexp_matches(raw_url, '^https?://') THEN raw_url
                  ELSE 'https://' || raw_url END AS url
      FROM ({_URL_SYNTH_SQL}))
    SELECT p_partkey, sha256(url) AS url_hash,
           lower(regexp_extract(url, '^https?://([^/]+)', 1)) AS host,
           CAST(len(list_filter(string_split(regexp_extract(url, '^https?://[^/]*(/.*)$', 1), '/'),
                                x -> x <> '')) AS INT) AS depth
    FROM u
    """,
)
def q08(spark, sf):
    """F2/F9/C7: sha256 url hash, host extraction, path-segment depth."""
    from .functions.urls import normalize_scheme

    u = _url_synth_spark(spark, sf).select(
        "p_partkey", normalize_scheme(F.col("raw_url")).alias("url")
    )
    return u.select(
        "p_partkey",
        F.sha2("url", 256).alias("url_hash"),
        F.lower(F.regexp_extract("url", "^https?://([^/]+)", 1)).alias("host"),
        F.size(
            F.filter(
                F.split(F.regexp_extract("url", "^https?://[^/]*(/.*)$", 1), "/"),
                lambda x: x != F.lit(""),
            )
        ).alias("depth"),
    )


_PATH_SYNTH_SQL = """
      SELECT p_partkey,
             repeat('/x', p_partkey % 6) ||
             (CASE p_partkey % 8
                WHEN 0 THEN '/article/' WHEN 1 THEN '/blog/' WHEN 2 THEN '/news/'
                WHEN 3 THEN '/product/' WHEN 4 THEN '/category/' WHEN 5 THEN '/tag/'
                WHEN 6 THEN '/page/' ELSE '/' END)
             || CAST(p_partkey AS VARCHAR) AS path
      FROM part
"""


def _path_synth_spark(spark, sf):
    p = _t(spark, sf, "part")
    pat = (
        F.when(F.col("p_partkey") % 8 == 0, "/article/")
        .when(F.col("p_partkey") % 8 == 1, "/blog/")
        .when(F.col("p_partkey") % 8 == 2, "/news/")
        .when(F.col("p_partkey") % 8 == 3, "/product/")
        .when(F.col("p_partkey") % 8 == 4, "/category/")
        .when(F.col("p_partkey") % 8 == 5, "/tag/")
        .when(F.col("p_partkey") % 8 == 6, "/page/")
        .otherwise("/")
    )
    return p.select(
        "p_partkey",
        F.concat(
            F.repeat(F.lit("/x"), F.col("p_partkey") % 6),
            pat,
            F.col("p_partkey").cast("string"),
        ).alias("path"),
    )


@q(
    "q09_base_score",
    f"""
    WITH d AS (
      SELECT p_partkey, path,
             CAST(len(list_filter(string_split(path, '/'), x -> x <> '')) AS INT) AS depth,
             CASE WHEN regexp_matches(path, '/article/')   THEN 1.5
                  WHEN regexp_matches(path, '/blog/')      THEN 1.3
                  WHEN regexp_matches(path, '/news/')      THEN 1.4
                  WHEN regexp_matches(path, '/product/')   THEN 1.2
                  WHEN regexp_matches(path, '/category/')  THEN 0.8
                  WHEN regexp_matches(path, '/tag/')       THEN 0.6
                  WHEN regexp_matches(path, '/page/[0-9]+') THEN 0.5
                  ELSE 1.0 END AS weight
      FROM ({_PATH_SYNTH_SQL}))
    SELECT p_partkey, path, depth,
           round(weight * (CASE WHEN depth > 3 THEN 1.0 / log2(depth) ELSE 1.0 END), 6)
             AS base_score
    FROM d
    """,
)
def q09(spark, sf):
    """U9 base score: path-pattern weights (first match, dict order) × depth
    damping (prioritizer.py:77-96)."""
    from .functions.scoring import depth_damping, pattern_weight
    from .functions.urls import path_depth

    d = _path_synth_spark(spark, sf).withColumn("depth", path_depth(F.col("path")))
    return d.select(
        "p_partkey",
        "path",
        "depth",
        F.round(
            pattern_weight(F.col("path")) * depth_damping(F.col("depth")), 6
        ).alias("base_score"),
    )


@q(
    "q10_freshness_buckets",
    """
    SELECT event_id,
           CAST(CASE WHEN age < 3600 THEN 0.2 WHEN age < 86400 THEN 0.4
                WHEN age < 604800 THEN 0.6 WHEN age < 2592000 THEN 0.8
                ELSE 1.0 END AS DOUBLE) AS freshness
    FROM (SELECT event_id,
                 date_diff('second', ts, TIMESTAMP '2024-01-15 00:00:00') AS age
          FROM events)
    """,
)
def q10(spark, sf):
    """C11: freshness age buckets (prioritizer.py:98-118)."""
    from .functions.scoring import freshness_score

    e = _t(spark, sf, "events")
    now = F.to_timestamp(F.lit("2024-01-15 00:00:00"))
    return e.select(
        "event_id", freshness_score(F.col("ts"), now).alias("freshness")
    )


@q(
    "q11_politeness_budget",
    """
    SELECT host, event_id, rn FROM (
      SELECT 'host' || CAST(user_id % 20 AS VARCHAR) AS host, event_id,
             row_number() OVER (PARTITION BY user_id % 20
                                ORDER BY value DESC, event_id ASC) AS rn
      FROM events) WHERE rn <= 5
    """,
)
def q11(spark, sf):
    """F4: per-host politeness budget as windowed top-k (adopted semantics of
    url_frontier.py:93-99) — run through the engine's salted two-stage
    operator to prove it equals the single-stage window."""
    from .operators.politeness import topk

    e = _t(spark, sf, "events").select(
        F.concat(F.lit("host"), (F.col("user_id") % 20).cast("string")).alias("host"),
        F.col("event_id"),
        F.col("value").alias("score"),
    )
    ranked = topk(
        e.withColumn("url", F.col("event_id").cast("string")),
        ("host",),
        5,
        [F.desc("score"), F.asc("event_id")],
        salt_buckets=4,
    )
    w = Window.partitionBy("host").orderBy(F.desc("score"), F.asc("event_id"))
    return (
        ranked.withColumn("rn", F.row_number().over(w))
        .select("host", "event_id", "rn")
    )


@q(
    "q12_priority_topk",
    """
    SELECT event_id, value FROM events
    ORDER BY value DESC, event_id ASC LIMIT 50
    """,
)
def q12(spark, sf):
    """W1: global priority dequeue top-k (url_frontier.py:82-88) —
    TakeOrderedAndProject, no full sort."""
    e = _t(spark, sf, "events")
    return e.select("event_id", "value").orderBy(
        F.desc("value"), F.asc("event_id")
    ).limit(50)


@q(
    "q13_link_hygiene_filter",
    r"""
    WITH l AS (
      SELECT p_partkey,
             '/files/f' || CAST(p_partkey AS VARCHAR) ||
             (CASE p_partkey % 6 WHEN 0 THEN '.pdf' WHEN 1 THEN '.html'
               WHEN 2 THEN '.jpg' WHEN 3 THEN '' WHEN 4 THEN '.zip'
               ELSE '.mp4' END) AS path
      FROM part)
    SELECT p_partkey, path FROM l
    WHERE NOT regexp_matches(lower(path),
      '\.(pdf|docx?|pptx?|xlsx?|zip|rar|tar|gz|exe|dmg|iso|img|jpe?g|png|gif|svg|mp3|mp4|avi|mov|wmv)$')
    """,
)
def q13(spark, sf):
    """F6: binary-extension link filter (html_parser.py:27-33,150)."""
    from .functions.urls import IGNORED_EXT_RE

    p = _t(spark, sf, "part")
    ext = (
        F.when(F.col("p_partkey") % 6 == 0, ".pdf")
        .when(F.col("p_partkey") % 6 == 1, ".html")
        .when(F.col("p_partkey") % 6 == 2, ".jpg")
        .when(F.col("p_partkey") % 6 == 3, "")
        .when(F.col("p_partkey") % 6 == 4, ".zip")
        .otherwise(".mp4")
    )
    l = p.select(
        "p_partkey",
        F.concat(F.lit("/files/f"), F.col("p_partkey").cast("string"), ext).alias("path"),
    )
    return l.filter(~F.lower(F.col("path")).rlike(IGNORED_EXT_RE))


# =============================================================================
# Text pipeline operators (A4-A8, T1, U-layer analogs) over `documents`
# =============================================================================
_WORDS_SQL = f"""
      SELECT doc_id, word FROM (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS word
        FROM documents)
      WHERE length(word) >= 3 AND word NOT IN {STOPWORDS_SQL}
"""


def _words_spark(spark, sf):
    d = _t(spark, sf, "documents")
    return (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("word"),
        )
        .filter((F.length("word") >= 3) & ~F.col("word").isin(*STOPWORDS))
    )


@q(
    "q14_word_freq",
    f"""
    SELECT word, CAST(count(*) AS BIGINT) AS freq
    FROM ({_WORDS_SQL})
    GROUP BY word ORDER BY freq DESC, word ASC LIMIT 50
    """,
)
def q14(spark, sf):
    """A4: corpus word frequency (processor.py:93-102 tokenization rules)."""
    return (
        _words_spark(spark, sf)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(50)
    )


@q(
    "q15_keyword_topk",
    f"""
    WITH f AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS freq
      FROM ({_WORDS_SQL}) GROUP BY doc_id, word),
    s AS (
      SELECT doc_id, word, freq,
             freq * 1.0 / max(freq) OVER (PARTITION BY doc_id) AS score
      FROM f),
    r AS (
      SELECT doc_id, word, round(score, 6) AS score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word ASC) AS rn
      FROM s)
    SELECT doc_id, word, score, rn FROM r WHERE rn <= 5
    """,
)
def q15(spark, sf):
    """A5/W2: per-doc keyword scoring freq/max(freq), top-k
    (processor.py:104-122; title boost n/a — documents have no title)."""
    f = (
        _words_spark(spark, sf)
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    wmax = Window.partitionBy("doc_id")
    s = f.withColumn(
        "score", F.col("freq") * 1.0 / F.max("freq").over(wmax)
    )
    wr = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("word"))
    return (
        s.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "word", F.round("score", 6).alias("score"), "rn")
    )


@q(
    "q16_content_classify",
    """
    WITH c AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '(?i)article|post|story|news'))   AS c1,
             len(regexp_extract_all(text, '(?i)product|price|\\$|€|£'))     AS c2,
             len(regexp_extract_all(text, '(?i)welcome|homepage|main'))     AS c3,
             len(regexp_extract_all(text, '(?i)category|archive|list|index')) AS c4
      FROM documents)
    SELECT doc_id,
           CASE WHEN c1 = 0 AND c2 = 0 AND c3 = 0 AND c4 = 0 THEN 'unknown'
                WHEN c1 >= c2 AND c1 >= c3 AND c1 >= c4 AND c1 > 0 THEN 'article'
                WHEN c2 > c1 AND c2 >= c3 AND c2 >= c4 THEN 'product'
                WHEN c3 > c1 AND c3 > c2 AND c3 >= c4 THEN 'landing'
                ELSE 'listing' END AS content_type
    FROM c
    """,
)
def q16(spark, sf):
    """A7: pattern-count argmax content classification (processor.py:181-201;
    strict-> update => earlier pattern wins ties)."""
    from .functions.textstats import content_type_col

    d = _t(spark, sf, "documents")
    return d.select("doc_id", content_type_col("text").alias("content_type"))


@q(
    "q17_quality_score",
    """
    SELECT doc_id,
           round(least(CAST(CASE WHEN length(text) > 1000 THEN 1.2
                            WHEN length(text) < 100 THEN 0.8
                            ELSE 1.0 END AS DOUBLE), 2.0), 6) AS quality
    FROM documents
    """,
)
def q17(spark, sf):
    """A8 length factor of the quality score (processor.py:217-236; the
    h1/meta factors need parsed HTML — exercised in the crawl tests)."""
    d = _t(spark, sf, "documents")
    lf = (
        F.when(F.length("text") > 1000, 1.2)
        .when(F.length("text") < 100, 0.8)
        .otherwise(1.0)
    )
    return d.select(
        "doc_id", F.round(F.least(lf, F.lit(2.0)), 6).alias("quality")
    )


@q(
    "q18_search_score",
    """
    SELECT doc_id, score FROM (
      SELECT doc_id,
             3 * len(regexp_extract_all(lower(source), 'spark'))
           + 2 * len(regexp_extract_all(lower(text), 'query'))
           + 1 * len(regexp_extract_all(lower(text), 'spark')) AS score
      FROM documents) WHERE score > 0
    ORDER BY score DESC, doc_id ASC LIMIT 20
    """,
)
def q18(spark, sf):
    """T1: weighted multi-field TF match, best-score ordering
    (elasticsearch_storage.py:89-111 approximation)."""
    d = _t(spark, sf, "documents")
    score = (
        3 * F.regexp_count(F.lower("source"), F.lit("spark"))
        + 2 * F.regexp_count(F.lower("text"), F.lit("query"))
        + 1 * F.regexp_count(F.lower("text"), F.lit("spark"))
    )
    return (
        d.select("doc_id", score.alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


@q(
    "q19_lang_id",
    """
    WITH c AS (
      SELECT doc_id, lang,
        len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|that|it|for|with)\\b'))   AS c_en,
        len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|nicht|mit|ein|ich|zu)\\b')) AS c_de,
        len(regexp_extract_all(lower(text), '\\b(le|la|les|et|est|pas|pour|que|une|des)\\b'))    AS c_fr,
        len(regexp_extract_all(lower(text), '\\b(el|la|los|que|de|es|por|con|una|para)\\b'))     AS c_es,
        len(regexp_extract_all(lower(text), '\\b(il|la|che|di|e|per|un|con|del|sono)\\b'))       AS c_it
      FROM documents)
    SELECT doc_id, lang,
           CASE WHEN c_en = 0 AND c_de = 0 AND c_fr = 0 AND c_es = 0 AND c_it = 0 THEN 'und'
                WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es AND c_en >= c_it THEN 'en'
                WHEN c_de > c_en AND c_de >= c_fr AND c_de >= c_es AND c_de >= c_it THEN 'de'
                WHEN c_fr > c_en AND c_fr > c_de AND c_fr >= c_es AND c_fr >= c_it THEN 'fr'
                WHEN c_es > c_en AND c_es > c_de AND c_es > c_fr AND c_es >= c_it THEN 'es'
                ELSE 'it' END AS lang_guess
    FROM c
    """,
)
def q19(spark, sf):
    """Language-ID heuristic: stopword-marker argmax (training-data op)."""
    from .functions.textstats import lang_id_col

    d = _t(spark, sf, "documents")
    return d.select("doc_id", "lang", lang_id_col("text").alias("lang_guess"))


@q(
    "q20_text_quality_stats",
    """
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS BIGINT) AS n_words,
           round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
                 / greatest(length(text), 1), 6) AS alpha_ratio
    FROM documents
    """,
)
def q20(spark, sf):
    """Text quality ratios for corpus filtering (training-data op)."""
    d = _t(spark, sf, "documents")
    words = F.filter(
        F.split(F.trim("text"), "\\s+"), lambda x: x != F.lit("")
    )
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(words).cast("long").alias("n_words"),
        F.round(
            F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
            * 1.0
            / F.greatest(F.length("text"), F.lit(1)),
            6,
        ).alias("alpha_ratio"),
    )


@q(
    "q21_token_count",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^\\sA-Za-z0-9]')) AS BIGINT)
             AS n_tokens
    FROM documents
    """,
)
def q21(spark, sf):
    """Token counting, BPE-ish word/punct split (training-data op)."""
    from .functions.textstats import token_count_col

    d = _t(spark, sf, "documents")
    return d.select("doc_id", token_count_col("text").cast("long").alias("n_tokens"))


# =============================================================================
# Dedup operators (training-data pipeline)
# =============================================================================
@q(
    "q22_dedup_exact",
    """
    SELECT doc_id, text_hash FROM (
      SELECT doc_id, md5(text) AS text_hash,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn
      FROM documents) WHERE rn = 1
    """,
)
def q22(spark, sf):
    """Exact dedup: hash-group, keep lowest id (J1 groupBy form)."""
    from .operators.dedup import exact_dedup

    d = _t(spark, sf, "documents")
    return exact_dedup(d, text_col="text", id_col="doc_id").select(
        "doc_id", "text_hash"
    )


@q(
    "q23_ngram_jaccard_pairs",
    f"""
    WITH g AS (
      SELECT DISTINCT doc_id, word FROM ({_WORDS_SQL}) WHERE doc_id < 100),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
      FROM g a JOIN g b ON a.word = b.word AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, round(shared * 1.0 / (sa.n + sb.n - shared), 6) AS jaccard
    FROM pairs JOIN sizes sa ON pairs.id_a = sa.doc_id
               JOIN sizes sb ON pairs.id_b = sb.doc_id
    WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.8
    """,
)
def q23(spark, sf):
    """Unigram-set Jaccard near-dup pairs (threshold 0.8, ids < 100)."""
    from .operators.dedup import jaccard_pairs

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    return jaccard_pairs(
        _words_spark(spark, sf).filter(F.col("doc_id") < 100),
        id_col="doc_id",
        token_col="word",
        threshold=0.8,
    )


# =============================================================================
# Similarity search (embeddings)
# =============================================================================
@q(
    "q24_cosine_topk",
    """
    WITH qv AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           round(list_dot_product(embedding::DOUBLE[], q)
                 / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * sqrt(list_dot_product(q, q))), 6) AS cos
    FROM embeddings, qv WHERE vec_id <> 0
    ORDER BY cos DESC, vec_id ASC LIMIT 10
    """,
)
def q24(spark, sf):
    """Brute-force cosine top-k ANN baseline (training-data op)."""
    from .operators.similarity import cosine_topk

    e = _t(spark, sf, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    return cosine_topk(
        e.filter(F.col("vec_id") != 0), qv, k=10, id_col="vec_id"
    )


@q(
    "q25_neardup_cosine_pairs",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 150)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35
    """,
)
def q25(spark, sf):
    """Embedding-cosine near-dup pairs (ids < 150).  Threshold 0.35: the
    driver's embeddings are near-orthogonal random vectors (max pairwise cos
    ≈ 0.44 at sf0.01), so the round-1 0.8 threshold made this row vacuously
    green on 0 rows; 0.35 keeps ~26 real pairs under oracle check."""
    from .operators.similarity import cosine_pairs

    e = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 150)
    return cosine_pairs(e, id_col="vec_id", threshold=0.35)


@q(
    "q26_minhash_lsh_neardup",
    f"""
    WITH g AS (
      SELECT DISTINCT doc_id, word FROM (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS word
        FROM documents WHERE doc_id < 1000)
      WHERE length(word) >= 3 AND word NOT IN {STOPWORDS_SQL}),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
      FROM g a JOIN g b ON a.word = b.word AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, round(shared * 1.0 / (sa.n + sb.n - shared), 6) AS jaccard
    FROM pairs JOIN sizes sa ON pairs.id_a = sa.doc_id
               JOIN sizes sb ON pairs.id_b = sb.doc_id
    WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.9
    """,
)
def q26(spark, sf):
    """MinHash+LSH near-dup pairs at Jaccard ≥ 0.9, EXACT-verified: token-set
    minhash → 16 bands of 4 rows → bucket-join candidates → exact Jaccard on
    the candidates only (array_intersect).  The oracle is the brute-force
    truth; they must be equal because the band recall at J=0.9 is
    1-(1-0.9⁴)^16 ≈ 1-4e-8 and verification removes all false positives.
    The driver corpus is pathologically self-similar (≈10% of ALL pairs sit
    at J ≥ 0.9 — a tiny shared vocabulary), so the true answer itself is
    Θ(n²·density); the doc_id < 1000 cap bounds the benched answer (no-op at
    the sf0.01 oracle scale where max doc_id is 499).  On a real corpus the
    density is ~duplication rate and the same pipeline is linear-ish."""
    from .operators.dedup import minhash_verified_pairs

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 1000)
    return minhash_verified_pairs(
        d, threshold=0.9, n_hashes=64, bands=16, stopwords=STOPWORDS, min_len=3
    )


@q(
    "q60_neardup_components",
    f"""
    WITH RECURSIVE g AS (
      SELECT DISTINCT doc_id, word FROM (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS word
        FROM documents WHERE doc_id < 1000)
      WHERE length(word) >= 3 AND word NOT IN {{stop}}),
    gsizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS sh
      FROM g a JOIN g b ON a.word = b.word AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    vpairs AS (
      SELECT id_a, id_b
      FROM shared JOIN gsizes sa ON shared.id_a = sa.doc_id
                  JOIN gsizes sb ON shared.id_b = sb.doc_id
      WHERE sh * 1.0 / (sa.n + sb.n - sh) >= 0.9),
    edges AS (SELECT id_a AS src, id_b AS dst FROM vpairs
              UNION SELECT id_b, id_a FROM vpairs),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      WHERE e.dst <> r.src),
    comp AS (
      SELECT src AS doc_id, least(src, min(dst)) AS canonical_id
      FROM reach GROUP BY src),
    csizes AS (SELECT canonical_id, CAST(count(*) AS BIGINT) AS comp_size
               FROM comp GROUP BY canonical_id)
    SELECT c.doc_id, c.canonical_id, s.comp_size
    FROM comp c JOIN csizes s USING (canonical_id)
    """.replace("{stop}", STOPWORDS_SQL),
)
def q60(spark, sf):
    """Near-dup clusters: q26's exact-verified LSH pairs → distributed
    connected components (min-label propagation, operators/dedup.py
    neardup_components) → per-doc canonical id + cluster size.  The grouping
    step is what makes pair-wise dedup safe — one survivor per transitive
    duplicate cluster, rather than independently dropping one side of each
    pair.  The oracle computes the same components by recursive-CTE
    transitive closure over the brute-force pair truth (min reachable id ==
    propagated min label; both derive the pair set identically, so the whole
    pipeline pairs→components→sizes is cross-checked end-to-end)."""
    from .operators.dedup import minhash_verified_pairs, neardup_components

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 1000)
    pairs = minhash_verified_pairs(
        d, threshold=0.9, n_hashes=64, bands=16, stopwords=STOPWORDS, min_len=3
    )
    comp = neardup_components(pairs)
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("comp_size"))
    return comp.join(sizes, "comp").select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("canonical_id"),
        "comp_size",
    )


# q27 oracle recomputes the engine's SimHash signatures in PURE SQL: the token
# hash is the first 16 hex chars of md5(token) (md5 exists in both engines),
# bit k = (hexdigit(16 - k//4) >> (k%4)) & 1, signature bit = sign of the
# ±1 contribution sum — then brute-forces all pairs with Hamming ≤ 9.
_Q27_SQL = """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                        x -> x <> '')) AS tok
      FROM documents WHERE doc_id < 100),
    contribs AS (
      SELECT doc_id, k,
             CASE WHEN ((strpos('0123456789abcdef', substr(md5(tok), 16 - k // 4, 1)) - 1)
                        >> (k % 4)) & 1 = 1
                  THEN 1 ELSE -1 END AS contrib
      FROM toks, unnest(range(0, 64)) t(k)),
    sig AS (
      SELECT doc_id, k, CASE WHEN sum(contrib) > 0 THEN 1 ELSE 0 END AS bit
      FROM contribs GROUP BY doc_id, k),
    ham AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INT) AS hamming
      FROM sig a JOIN sig b ON a.k = b.k AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 9
"""


@q("q27_simhash_candidates", _Q27_SQL)
def q27(spark, sf):
    """SimHash near-dup pairs, EXACT: 16 bands of 4 bits guarantee (pigeonhole)
    that every pair with Hamming ≤ 15 shares a band, so the banded join +
    Hamming ≤ 9 filter returns precisely the brute-force answer.  The oracle
    recomputes the md5-based signatures in SQL and brute-forces the ≤ 9 set
    on the doc_id < 100 slice.  Signatures come from the vectorized UDF
    (batch-unique-token md5 + one np.add.at — the round-1 per-token Python
    loop is gone)."""
    from .operators.dedup import simhash_candidates

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    return simhash_candidates(d, bands=16, max_hamming=9)


@q(
    "q61_quota_sample",
    """
    WITH r AS (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents)
    SELECT source, doc_id, CAST(rk AS INTEGER) AS rk FROM r WHERE rk <= 8
    """,
)
def q61(spark, sf):
    """Stratified quota sample — training-data mix rebalancing: keep 8 docs
    per source, deterministically (smallest md5(doc_id) first, so reruns and
    incremental snapshots reproduce the same training set).  The engine runs
    the TWO-STAGE scale plan (broadcast per-stratum counts → map-side hash-
    fraction prefilter → rank only the ~4·quota survivors, with a verified
    per-stratum fallback — operators/sampling.py); the oracle is the exact
    single-stage row_number definition, so the query checks that the
    prefilter plan equals the exact semantics end-to-end."""
    from .operators.sampling import quota_sample

    d = _t(spark, sf, "documents")
    return quota_sample(d, "source", 8, "doc_id", prefilter_factor=4.0)


@q(
    "q28_fingerprint",
    """
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 50)
    SELECT doc_id,
           CAST(count(*) OVER (PARTITION BY text) AS BIGINT) AS dup_count,
           min(doc_id) OVER (PARTITION BY text)              AS canonical_id
    FROM aug
    """,
)
def q28(spark, sf):
    """Rolling-hash document fingerprint (pandas UDF; C-layer scalar op).

    Oracle contract: dup-groups BY FINGERPRINT must equal dup-groups BY TEXT —
    i.e. the 61-bit rolling hash is collision-free AND total on this corpus
    (the oracle groups by the text itself, which SQL can do and the engine's
    dedup deliberately does not, because at 100 TB the grouping key must be a
    fixed-width hash, never the payload).  50 planted duplicates (doc_id+10000
    copies) make the check non-vacuous: their groups must shrink to one
    canonical_id with dup_count 2."""
    from .functions.textstats import fingerprint_udf

    d = _t(spark, sf, "documents").select("doc_id", "text")
    aug = d.unionByName(
        d.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 10000).alias("doc_id"), "text"
        )
    )
    fp = aug.select("doc_id", fingerprint_udf(F.col("text")).alias("fp"))
    w = Window.partitionBy("fp")
    return fp.select(
        "doc_id",
        F.count(F.lit(1)).over(w).alias("dup_count"),
        F.min("doc_id").over(w).alias("canonical_id"),
    )


# The LSH-ANN oracles recompute the ENGINE'S OWN algorithm in SQL — the
# ±1 (Rademacher) hyperplanes are deterministic md5-derived literals shared
# by both sides, and every dot product is the same left-to-right double fold
# (list_dot_product ≡ F.aggregate(zip_with)), so bucketing, candidate join
# and rerank are checked end-to-end.  Recall vs brute force is a separate,
# measured property (tests/test_similarity_ops.py), not an oracle identity.
def _bucket_sql(vec: str, n_bits: int) -> str:
    return (
        f"list_sum(list_transform(range(0, {n_bits}), k -> "
        f"CASE WHEN list_dot_product({vec}, p[k + 1]) > 0 "
        f"THEN (1 << k) ELSE 0 END))"
    )


def _planes_values_sql(planes) -> str:
    from .operators.similarity import planes_sql_literal

    lits = planes_sql_literal(planes)
    return ", ".join(f"({l}, {lit})" for l, lit in enumerate(lits))


def _make_q29_sql() -> str:
    from .operators.similarity import rademacher_planes

    planes = rademacher_planes(n_tables=8, n_bits=6, dim=64)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id <> 0),
    qv AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0),
    pl(tbl, p) AS (VALUES {_planes_values_sql(planes)}),
    eb AS (SELECT vec_id, tbl, {_bucket_sql('v', 6)} AS bucket FROM e, pl),
    qb AS (SELECT tbl, {_bucket_sql('q', 6)} AS bucket FROM qv, pl),
    cand AS (
      SELECT DISTINCT eb.vec_id
      FROM eb JOIN qb ON eb.tbl = qb.tbl AND eb.bucket = qb.bucket)
    SELECT e.vec_id,
           round(list_dot_product(v, q)
                 / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(q, q))), 6) AS cos
    FROM e JOIN cand ON e.vec_id = cand.vec_id, qv
    ORDER BY cos DESC, e.vec_id ASC LIMIT 10
    """


@q("q29_lsh_ann_topk", _make_q29_sql())
def q29(spark, sf):
    """LSH-bucketed approximate nearest neighbours (the ANN scale path):
    8 tables × 6 sign bits, candidates = union of same-bucket vectors across
    tables, exact cosine rerank, top-10."""
    from .operators.similarity import lsh_topk

    e = _t(spark, sf, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    return lsh_topk(
        e.filter(F.col("vec_id") != 0), qv, dim=64, k=10, n_tables=8, n_bits=6
    )


@q(
    "q30_multimodal_features",
    """
    WITH m AS (
      SELECT CAST(i AS BIGINT) AS media_id,
             CASE CAST(i % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                  ELSE 'video' END AS modality,
             CAST(64 + i % 128 AS BIGINT) AS n_bytes
      FROM range(0, 200) t(i)),
    bytes AS (
      SELECT media_id, CAST(((media_id * 37 + j * 11) % 256) // 16 AS INT) AS bucket
      FROM m, unnest(range(0, n_bytes)) u(j)),
    h AS (SELECT media_id, bucket, count(*) AS cnt FROM bytes GROUP BY 1, 2),
    grid AS (
      SELECT m.media_id, m.modality, m.n_bytes, CAST(kk AS INT) AS bucket
      FROM m, unnest(range(0, 16)) t2(kk)),
    f AS (
      SELECT grid.media_id, grid.modality, grid.n_bytes, grid.bucket,
             coalesce(h.cnt, 0) AS cnt
      FROM grid LEFT JOIN h
        ON grid.media_id = h.media_id AND grid.bucket = h.bucket)
    SELECT media_id, modality, n_bytes,
           array_to_string(list(CAST(cnt AS INT) ORDER BY bucket), ',') AS hist16
    FROM f GROUP BY media_id, modality, n_bytes
    """,
)
def q30(spark, sf):
    """Binary-payload feature extraction plumbing (decode stubbed; schema,
    Arrow batching and modality partitioning are real).

    Output is driver-canonicalizable scalars (round 1 returned the raw
    array<float> column, which crashed the driver's canonicalizer): the
    byte-histogram stub feature is reported as its exact integer counts
    (feature[k]·n_bytes rounds back to the count because the stub normalizes
    by total), joined into one string.  The oracle recomputes the histogram
    from the synth_media byte formula ((i·37 + j·11) % 256) in pure SQL."""
    from .operators.multimodal import extract_features, synth_media

    media = synth_media(spark, n=200)
    feats = extract_features(media)
    hist16 = F.array_join(
        F.transform(
            "feature",
            lambda x: F.round(x * F.col("n_bytes")).cast("int").cast("string"),
        ),
        ",",
    )
    return feats.select("media_id", "modality", "n_bytes", hist16.alias("hist16"))


@q("q31_crawl_round")
def q31(spark, sf):
    """Flagship rows-only entry: two full crawl rounds of the BSP engine on
    the deterministic synthetic web (seed → dedup → robots → politeness →
    fetch-join → parse → link discovery), returning the crawl log."""
    import tempfile

    from . import synth
    from .catalog import SnapshotCatalog
    from .config import CrawlConfig
    from .plans import loop

    cfg = CrawlConfig(politeness_budget=3, batch_size=50, max_rounds=2)
    cat = SnapshotCatalog(spark, tempfile.mkdtemp(prefix="crawlq_"))
    n, h = 300, 8
    loop.bootstrap(
        spark, cat, cfg,
        synth.gen_seeds(spark, n, h),
        synth.gen_pages(spark, n, h, partitions=8),
        synth.gen_robots(spark, h),
    )
    loop.run_crawl(spark, cat, cfg)
    return cat.read("crawl_log").select(
        "round", "url", "host", "status_code", "success", "error"
    )


def _q31_oracle() -> str | None:
    """Sim-replay oracle for the flagship crawl entry: the pure-Python
    reference simulator (tests/reference_sim.py — an independent
    reimplementation of the reference's loop, crawler/core/fetcher/
    crawler.py:169-203) computes the exact expected crawl_log for q31's
    deterministic inputs; emitted as a literal VALUES table so DuckDB checks
    the whole BSP loop row-for-row (rows + schema + value hash).

    Status codes mirror the synthetic fetch operator: success -> 200,
    fetch miss -> 404 (operators/fetch.py), robots-blocked -> NULL."""
    import importlib.util
    import os

    sim_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests",
        "reference_sim.py",
    )
    if not os.path.exists(sim_path):  # installed without tests/ -> rows-only
        return None
    import sys

    spec = importlib.util.spec_from_file_location("_q31_reference_sim", sim_path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses resolves cls.__module__
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.modules.pop(spec.name, None)
    from .config import CrawlConfig

    res = mod.simulate(
        300, 8, CrawlConfig(politeness_budget=3, batch_size=50, max_rounds=2)
    )

    def lit(s: str | None) -> str:
        return "NULL" if s is None else "'" + s.replace("'", "''") + "'"

    rows = []
    for e in res.log:
        status = (
            "200" if e["success"]
            else ("404" if e["error"] == "fetch_failed" else "NULL")
        )
        rows.append(
            f"({e['round']}, {lit(e['url'])}, {lit(e['host'])}, {status}, "
            f"{'TRUE' if e['success'] else 'FALSE'}, {lit(e['error'])})"
        )
    return (
        "SELECT CAST(round AS INTEGER) AS round, url, host, "
        "CAST(status_code AS INTEGER) AS status_code, "
        "CAST(success AS BOOLEAN) AS success, error "
        "FROM (VALUES "
        + ",\n".join(rows)
        + ") AS t(round, url, host, status_code, success, error)"
    )


_sql31 = _q31_oracle()
if _sql31 is not None:
    ORACLES["q31_crawl_round"] = _sql31
del _sql31


# =============================================================================
# Additional operator coverage (O/C/J/W/A rows of SURVEY.md §2)
# =============================================================================
@q(
    "q32_set_ops",
    """
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(list_concat(
             list_filter(regexp_split_to_array(lower(substring(text, 1, 60)), '[^a-z0-9]+'), x -> x <> ''),
             list_filter(regexp_split_to_array(lower(substring(text, 61, 60)), '[^a-z0-9]+'), x -> x <> '')
           ))), ',') AS merged_terms
    FROM documents
    """,
)
def q32(spark, sf):
    """O4/O5: set-dedup + union of two keyword arrays
    (html_parser.py:104-117, processor.py:317-339)."""
    d = _t(spark, sf, "documents")
    def words(col):
        return F.filter(
            F.split(F.lower(col), "[^a-z0-9]+"), lambda x: x != F.lit("")
        )
    merged = F.array_join(
        F.array_sort(
            F.array_distinct(
                F.concat(
                    words(F.substring("text", 1, 60)),
                    words(F.substring("text", 61, 60)),
                )
            )
        ),
        ",",
    )
    return d.select("doc_id", merged.alias("merged_terms"))


@q(
    "q33_retry_backoff",
    """
    SELECT event_id,
           round(least(300.0, pow(2, event_id % 5) * 1.0), 4) AS backoff_s
    FROM events
    """,
)
def q33(spark, sf):
    """C10: exponential backoff min(300, 2^retry × delay)
    (fetcher/crawler.py:124-126)."""
    e = _t(spark, sf, "events")
    return e.select(
        "event_id",
        F.round(
            F.least(F.lit(300.0), F.pow(F.lit(2), F.col("event_id") % 5) * 1.0), 4
        ).alias("backoff_s"),
    )


@q(
    "q34_json_extract",
    """
    SELECT event_id, CAST(json_extract(props, '$.k') AS INT) AS k
    FROM events
    """,
)
def q34(spark, sf):
    """C15: JSON decode of message payloads (kafka_producer.py:14)."""
    e = _t(spark, sf, "events")
    return e.select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k")
    )


@q(
    "q35_ttl_retention",
    """
    SELECT CAST(count(*) AS BIGINT) AS kept FROM events
    WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
    """,
)
def q35(spark, sf):
    """S13: TTL delete = retention filter (postgres_storage.py:172-190);
    on the lake this is a partition-drop, here the predicate itself."""
    e = _t(spark, sf, "events")
    return e.filter(F.col("ts") >= "2024-01-08").agg(
        F.count(F.lit(1)).alias("kept")
    )


@q(
    "q36_recent_paged",
    """
    SELECT domain, event_id, rn FROM (
      SELECT event_type AS domain, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts DESC, event_id ASC) AS rn
      FROM events) WHERE rn BETWEEN 2 AND 4
    """,
)
def q36(spark, sf):
    """W4: recent-per-domain with OFFSET/LIMIT paging
    (postgres_storage.py:127-141)."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("domain").orderBy(F.desc("ts"), F.asc("event_id"))
    return (
        e.select(F.col("event_type").alias("domain"), "event_id", "ts")
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") >= 2) & (F.col("rn") <= 4))
        .select("domain", "event_id", "rn")
    )


_Q37_LABELED = """
    labeled AS (
      SELECT doc_id,
             CASE WHEN pos > neg THEN 'pos'
                  WHEN neg > pos THEN 'neg' ELSE 'neu' END AS label
      FROM (
        SELECT doc_id,
               len(regexp_extract_all(lower(text), '\\b(fast|big)\\b'))  AS pos,
               len(regexp_extract_all(lower(text), '\\b(slow|small)\\b')) AS neg
        FROM documents))
"""


def _make_q37_sql() -> str:
    from .functions.nbayes import nb_oracle_cte

    return f"""
    WITH {_Q37_LABELED},
    {nb_oracle_cte("labeled")}
    SELECT doc_id, label AS predicted, score FROM (
      SELECT doc_id, label, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, label ASC) AS rn
      FROM scores) WHERE rn = 1
    """


@q("q37_nb_sentiment", _make_q37_sql())
def q37(spark, sf):
    """U6 with a REAL training path (was: lexicon ratio stub): multinomial
    naive Bayes sentiment fit on the corpus.  The old lexicon rule
    (fast/big vs slow/small, processor.py:267-269's polarity shape) is now
    only the weak-supervision LABELING function; the model itself is
    per-(class, token) counts from ONE distributed aggregate, Laplace-
    smoothed, log-weights quantized to integer micro-nats so per-doc scores
    are exact integer sums.  The oracle RETRAINS the identical model in SQL
    (same counts, same floor(1e6·ln+0.5) quantization) — bit-identical
    (processor.py:238-287 runs DistilBERT here; same plug shape)."""
    from .functions.nbayes import fit_nb_df, nb_predict

    d = _t(spark, sf, "documents")
    pos = F.regexp_count(F.lower("text"), F.lit(r"\b(fast|big)\b"))
    neg = F.regexp_count(F.lower("text"), F.lit(r"\b(slow|small)\b"))
    labeled = d.select(
        "doc_id",
        "text",
        F.when(pos > neg, "pos").when(neg > pos, "neg").otherwise("neu").alias("label"),
    )
    wdf, pdf = fit_nb_df(labeled)  # distributed fit — zero driver vocab state
    return nb_predict(d, wdf, pdf)


_Q38_TOPICS = (
    ("execution", r"\b(scan|join|agg)\b"),
    ("performance", r"\b(fast|slow|cache)\b"),
    ("storage", r"\b(table|row|column)\b"),
    ("streaming", r"\b(stream|window|batch)\b"),
)

# argmax of the 4 marker counts with alphabetical tie-break; all-zero → other
_Q38_LABELED = """
    labeled AS (
      SELECT doc_id,
             CASE WHEN c1 = 0 AND c2 = 0 AND c3 = 0 AND c4 = 0 THEN 'other'
                  WHEN c1 >= c2 AND c1 >= c3 AND c1 >= c4 THEN 'execution'
                  WHEN c2 >= c3 AND c2 >= c4 THEN 'performance'
                  WHEN c3 >= c4 THEN 'storage'
                  ELSE 'streaming' END AS label
      FROM (
        SELECT doc_id,
          len(regexp_extract_all(lower(text), '\\b(scan|join|agg)\\b'))      AS c1,
          len(regexp_extract_all(lower(text), '\\b(fast|slow|cache)\\b'))    AS c2,
          len(regexp_extract_all(lower(text), '\\b(table|row|column)\\b'))   AS c3,
          len(regexp_extract_all(lower(text), '\\b(stream|window|batch)\\b')) AS c4
        FROM documents))
"""


def _make_q38_sql() -> str:
    from .functions.nbayes import nb_oracle_cte

    return f"""
    WITH {_Q38_LABELED},
    {nb_oracle_cte("labeled")}
    SELECT doc_id, label AS topic, score, rn FROM (
      SELECT doc_id, label, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, label ASC) AS rn
      FROM scores) WHERE rn <= 3
    """


@q("q38_nb_topic_rank", _make_q38_sql())
def q38(spark, sf):
    """U8/W3 with a REAL training path (was: marker-count stub): per-doc
    topic posterior rank from a multinomial NB fit on the corpus.  The
    marker keyword rules (the reference's candidate_labels,
    processor.py:368-423) are now only weak labeling functions — argmax
    marker count, tie → alphabetical, all-zero → 'other'; the trained NB
    then scores every (doc, topic) and the top-3 are ranked (score desc,
    topic asc — processor.py:402-411's multi-label shape).  Same
    integer-quantized training as q37; oracle retrains in SQL."""
    from .functions.nbayes import fit_nb_df, nb_scores

    d = _t(spark, sf, "documents")
    cnts = [
        F.regexp_count(F.lower("text"), F.lit(pat)).alias(f"c{i+1}")
        for i, (_, pat) in enumerate(_Q38_TOPICS)
    ]
    base = d.select("doc_id", "text", *cnts)
    c1, c2, c3, c4 = (F.col(f"c{i}") for i in range(1, 5))
    label = (
        F.when((c1 == 0) & (c2 == 0) & (c3 == 0) & (c4 == 0), "other")
        .when((c1 >= c2) & (c1 >= c3) & (c1 >= c4), "execution")
        .when((c2 >= c3) & (c2 >= c4), "performance")
        .when(c3 >= c4, "storage")
        .otherwise("streaming")
    )
    labeled = base.select("doc_id", "text", label.alias("label"))
    wdf, pdf = fit_nb_df(labeled)  # distributed fit — zero driver vocab state
    s = nb_scores(d, wdf, pdf)
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("label"))
    return (
        s.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", F.col("label").alias("topic"), "score", "rn")
    )


@q(
    "q39_link_classify",
    """
    SELECT is_internal, CAST(count(*) AS BIGINT) AS n,
           round(avg(CASE WHEN is_internal THEN 1.2 ELSE 1.0 END), 6) AS avg_link_score
    FROM (
      SELECT (l_partkey % 7) = (l_suppkey % 7) AS is_internal FROM lineitem)
    GROUP BY is_internal
    """,
)
def q39(spark, sf):
    """J5: internal/external link classification + weights 1.2/1.0
    (processor.py:141-168) over synthesized src/dst host pairs."""
    li = _t(spark, sf, "lineitem")
    cls = li.select(
        ((F.col("l_partkey") % 7) == (F.col("l_suppkey") % 7)).alias("is_internal")
    )
    return cls.groupBy("is_internal").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.avg(F.when(F.col("is_internal"), 1.2).otherwise(1.0)), 6
        ).alias("avg_link_score"),
    )


@q(
    "q40_domain_score",
    """
    SELECT domain,
           round(least(2.0,
             (1.0 + avg_q) * least(1.0, 1.0 / avg_t) *
             (CASE WHEN avg_len > 5000 THEN 1.2 ELSE 1.0 END)), 6) AS domain_score
    FROM (
      SELECT event_type AS domain, avg(value) / 100.0 AS avg_q,
             avg(value) AS avg_t, avg(value) * 100 AS avg_len
      FROM events GROUP BY event_type)
    """,
)
def q40(spark, sf):
    """A9: domain score from crawl stats — (1+quality) × min(1, 1/crawl_time)
    × 1.2 if content-rich, capped 2.0 (url_frontier.py:198-216)."""
    e = _t(spark, sf, "events")
    agg = e.groupBy(F.col("event_type").alias("domain")).agg(
        (F.avg("value") / 100.0).alias("avg_q"),
        F.avg("value").alias("avg_t"),
        (F.avg("value") * 100).alias("avg_len"),
    )
    score = F.least(
        F.lit(2.0),
        (1.0 + F.col("avg_q"))
        * F.least(F.lit(1.0), F.lit(1.0) / F.col("avg_t"))
        * F.when(F.col("avg_len") > 5000, 1.2).otherwise(1.0),
    )
    return agg.select("domain", F.round(score, 6).alias("domain_score"))


@q(
    "q41_url_features",
    f"""
    WITH u AS (
      SELECT p_partkey,
             CASE WHEN regexp_matches(raw_url, '^https?://') THEN raw_url
                  ELSE 'https://' || raw_url END AS url
      FROM ({_URL_SYNTH_SQL}))
    SELECT p_partkey,
           CAST(regexp_matches(lower(url), '/\\d{{4}}/\\d{{2}}') AS INT)        AS has_date,
           CAST(regexp_matches(lower(url), '/page/\\d+') AS INT)              AS is_pagination,
           CAST(regexp_matches(lower(url), 'article|blog|news|post') AS INT)  AS has_keywords,
           CAST(regexp_matches(lower(url), '\\?') AS INT)                     AS has_query,
           CAST(length(url) AS INT)                                           AS url_len
    FROM u
    """,
)
def q41(spark, sf):
    """C17/U10: URL feature flags (ml/url_prioritizer.py:28-34,93-95)."""
    from .functions.mlhooks import url_feature_cols
    from .functions.urls import normalize_scheme

    u = _url_synth_spark(spark, sf).select(
        "p_partkey", normalize_scheme(F.col("raw_url")).alias("url")
    )
    feats = url_feature_cols(F.col("url"))
    return u.select(
        "p_partkey",
        feats["has_date"].alias("has_date"),
        feats["is_pagination"].alias("is_pagination"),
        feats["has_keywords"].alias("has_keywords"),
        feats["has_query"].alias("has_query"),
        feats["url_len"].alias("url_len"),
    )


@q(
    "q42_ml_blended_rank",
    f"""
    WITH u AS (
      SELECT p_partkey,
             CASE WHEN regexp_matches(raw_url, '^https?://') THEN raw_url
                  ELSE 'https://' || raw_url END AS url
      FROM ({_URL_SYNTH_SQL})),
    f AS (
      SELECT u.p_partkey, u.url,
             CAST(length(u.url) AS BIGINT)      AS url_len,
             CAST(u.p_partkey % 7 AS BIGINT)    AS host_num,
             CAST(round(p.p_retailprice * 100, 0) AS BIGINT) AS y
      FROM u JOIN part p ON u.p_partkey = p.p_partkey),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(url_len) AS s1, sum(host_num) AS s2, sum(y) AS sy,
             sum(url_len * url_len)  AS s11, sum(url_len * host_num) AS s12,
             sum(host_num * host_num) AS s22, sum(url_len * y) AS s1y,
             sum(host_num * y) AS s2y
      FROM f),
    -- mirror mlhooks.ols2_coeffs_from_sums op-for-op: the sums are exact
    -- integers, so every double below is bit-identical to the engine's
    c AS (
      SELECT n, s1 / n AS m1, s2 / n AS m2, sy / n AS my,
             s11 / n - (s1 / n) * (s1 / n) AS c11,
             s12 / n - (s1 / n) * (s2 / n) AS c12,
             s22 / n - (s2 / n) * (s2 / n) AS c22,
             s1y / n - (s1 / n) * (sy / n) AS c1y,
             s2y / n - (s2 / n) * (sy / n) AS c2y
      FROM s),
    b AS (
      SELECT m1, m2, my,
             (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1,
             (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2
      FROM c)
    SELECT p_partkey, url,
           round((my - b1 * m1 - b2 * m2) + b1 * url_len + b2 * host_num, 6)
             AS pred_cents,
           round(1.0 * 0.7
                 + (((my - b1 * m1 - b2 * m2) + b1 * url_len + b2 * host_num)
                    / 100.0 / 2000.0) * 0.3, 6) AS blended
    FROM f, b
    """,
)
def q42(spark, sf):
    """U10 with a REAL training path: closed-form OLS fit on exact integer
    sufficient statistics (one distributed aggregate — the 100 TB-safe
    equivalent of ml/url_prioritizer.py:195-311's offline fit), coefficients
    loaded back as literals, predictions blended 0.7/0.3 with the heuristic
    (url_prioritizer.py:175).  The oracle TRAINS THE SAME MODEL in SQL: since
    the sufficient statistics are exact integers and the coefficient formula
    is mirrored op-for-op, predictions are bit-identical."""
    from .functions.mlhooks import fit_ols2, ols2_predict_col
    from .functions.urls import normalize_scheme

    u = _url_synth_spark(spark, sf).select(
        "p_partkey", normalize_scheme(F.col("raw_url")).alias("url")
    )
    p = _t(spark, sf, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("y"),
    )
    feats = u.join(p, "p_partkey").select(
        "p_partkey",
        "url",
        F.length("url").cast("long").alias("url_len"),
        (F.col("p_partkey") % 7).cast("long").alias("host_num"),
        "y",
    )
    coef = fit_ols2(feats, "url_len", "host_num", "y")
    pred = ols2_predict_col(coef, F.col("url_len"), F.col("host_num"))
    # normalize the cents prediction into (0, ~1) before blending so both
    # operands of the 0.7/0.3 blend live on the same scale
    ml_score = pred / 100.0 / 2000.0
    from .functions.mlhooks import blended_score

    return feats.select(
        "p_partkey",
        "url",
        F.round(pred, 6).alias("pred_cents"),
        F.round(blended_score(F.lit(1.0), ml_score), 6).alias("blended"),
    )


@q(
    "q43_content_cleaner",
    """
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace('<script>var x;</script>' || text || '<style>.c{}</style>',
                              '<script.*?</script>', '', 'gs'),
               '<style.*?</style>', '', 'gs'),
             '\\s+', ' ', 'g')) AS cleaned
    FROM documents
    """,
)
def q43(spark, sf):
    """U2 ContentCleaner: script/style strip + whitespace collapse
    (processor.py:53-79) as a native regexp_replace chain — no UDF."""
    d = _t(spark, sf, "documents")
    raw = F.concat(
        F.lit("<script>var x;</script>"), F.col("text"), F.lit("<style>.c{}</style>")
    )
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(raw, r"(?s)<script.*?</script>", ""),
                r"(?s)<style.*?</style>",
                "",
            ),
            r"\s+",
            " ",
        )
    )
    return d.select("doc_id", cleaned.alias("cleaned"))


@q(
    "q44_entity_stub",
    """
    SELECT doc_id, entity, CAST(count(*) AS BIGINT) AS mentions FROM (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS entity
      FROM documents)
    WHERE entity IN ('spark', 'customer', 'vector', 'window')
    GROUP BY doc_id, entity
    """,
)
def q44(spark, sf):
    """U7 shape: dictionary-gazetteer entity mention extraction (deterministic
    stand-in for the spaCy/BERT NER of processor.py:289-366).  Round 1 used a
    capitalized-token rule that matched NOTHING in the all-lowercase driver
    corpus (vacuous 0-row green); the gazetteer checks real, non-empty
    mention counts."""
    d = _t(spark, sf, "documents")
    gaz = ("spark", "customer", "vector", "window")
    ents = d.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("entity"),
    ).filter(F.col("entity").isin(*gaz))
    return ents.groupBy("doc_id", "entity").agg(F.count(F.lit(1)).alias("mentions"))


@q(
    "q45_keyword_relevance",
    f"""
    WITH u AS (
      SELECT p_partkey,
             CASE WHEN regexp_matches(raw_url, '^https?://') THEN raw_url
                  ELSE 'https://' || raw_url END AS url
      FROM ({_URL_SYNTH_SQL}))
    SELECT p_partkey,
           round(CAST(1.0 AS DOUBLE)
             * (CASE WHEN contains(lower(url), 'part') THEN 1.5 ELSE 1.0 END)
             * (CASE WHEN contains(lower(url), 'site3') THEN 0.7 ELSE 1.0 END), 6)
             AS relevance
    FROM u
    """,
)
def q45(spark, sf):
    """C16: keyword-in-url relevance multipliers (prioritizer.py:133-137)."""
    from .functions.scoring import keyword_relevance
    from .functions.urls import normalize_scheme

    u = _url_synth_spark(spark, sf).select(
        "p_partkey", normalize_scheme(F.col("raw_url")).alias("url")
    )
    return u.select(
        "p_partkey",
        F.round(
            keyword_relevance(F.col("url"), {"part": 1.5, "site3": 0.7}), 6
        ).alias("relevance"),
    )


# =============================================================================
# Round-2 additions: BM25 search, batch ANN join, trained content classifier
# =============================================================================
_BM25_TERMS = ("query", "spark", "table")  # kept sorted (fixed-order term sum)


@q(
    "q46_bm25_search",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                        x -> x <> '')) AS term
      FROM documents),
    idx AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM toks WHERE term IN ('query', 'spark', 'table') GROUP BY doc_id, term),
    dl AS (
      SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                  x -> x <> '')) AS DOUBLE) AS dl
      FROM documents),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(CAST(dl AS BIGINT)) AS BIGINT) / CAST(count(*) AS BIGINT) AS avgdl
      FROM dl),
    dfreq AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM idx GROUP BY term),
    scored AS (
      SELECT idx.doc_id, idx.term,
             ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * tf * 2.2
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl)) AS term_score
      FROM idx JOIN dfreq ON idx.term = dfreq.term
               JOIN dl ON idx.doc_id = dl.doc_id, stats),
    agg AS (
      SELECT doc_id,
             sum(CASE WHEN term = 'query' THEN term_score END) AS s0,
             sum(CASE WHEN term = 'spark' THEN term_score END) AS s1,
             sum(CASE WHEN term = 'table' THEN term_score END) AS s2
      FROM scored GROUP BY doc_id)
    SELECT doc_id,
           round(coalesce(s0, 0.0) + coalesce(s1, 0.0) + coalesce(s2, 0.0), 6) AS bm25
    FROM agg ORDER BY bm25 DESC, doc_id ASC LIMIT 20
    """,
)
def q46(spark, sf):
    """T1 real-scoring option: BM25 over an inverted-index table
    (elasticsearch_storage.py:89-111 runs Lucene BM25; SURVEY §2.8 names this
    as the full-fidelity path — the weighted-TF q18 remains the cheap
    approximation).  k1=1.2, b=0.75, idf = ln(1+(N-df+0.5)/(df+0.5)); the
    oracle recomputes the identical pipeline in SQL (exact-integer avgdl and
    fixed term-order summation keep doubles bit-identical)."""
    from .operators.search import bm25_topk

    d = _t(spark, sf, "documents")
    return bm25_topk(d, terms=list(_BM25_TERMS), k=20)


def _q54_field_chain(f: str) -> str:
    """Per-field BM25 CTE chain (mirrors operators/search.bm25_token_scores
    op-for-op, including the fixed-term-order conditional aggregation)."""
    return f"""
    idx_{f} AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(ft) AS term FROM ft_{f})
      WHERE term IN ('query', 'spark', 'table') GROUP BY doc_id, term),
    dl_{f} AS (SELECT doc_id, CAST(len(ft) AS DOUBLE) AS dl FROM ft_{f}),
    stats_{f} AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(CAST(dl AS BIGINT)) AS BIGINT)
               / CAST(count(*) AS BIGINT) AS avgdl
      FROM dl_{f}),
    dfreq_{f} AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
      FROM idx_{f} GROUP BY term),
    scored_{f} AS (
      SELECT idx_{f}.doc_id, idx_{f}.term,
             ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * tf * 2.2
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl_{f}.dl / avgdl)) AS term_score
      FROM idx_{f} JOIN dfreq_{f} ON idx_{f}.term = dfreq_{f}.term
           JOIN dl_{f} ON idx_{f}.doc_id = dl_{f}.doc_id, stats_{f}),
    agg_{f} AS (
      SELECT doc_id,
             coalesce(sum(CASE WHEN term = 'query' THEN term_score END), 0.0)
           + coalesce(sum(CASE WHEN term = 'spark' THEN term_score END), 0.0)
           + coalesce(sum(CASE WHEN term = 'table' THEN term_score END), 0.0)
             AS s_{f}
      FROM scored_{f} GROUP BY doc_id)"""


@q(
    "q54_bm25_best_fields",
    f"""
    WITH alltoks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents),
    ft_title AS (SELECT doc_id, t[1:5] AS ft FROM alltoks),
    ft_description AS (SELECT doc_id, t[1:12] AS ft FROM alltoks),
    ft_body AS (SELECT doc_id, t AS ft FROM alltoks),
    {_q54_field_chain("title")},
    {_q54_field_chain("description")},
    {_q54_field_chain("body")}
    SELECT agg_body.doc_id,
           round(greatest(3.0 * coalesce(s_title, 0.0),
                          2.0 * coalesce(s_description, 0.0),
                          1.0 * coalesce(s_body, 0.0)), 6) AS best_score
    FROM agg_body
    LEFT JOIN agg_title USING (doc_id)
    LEFT JOIN agg_description USING (doc_id)
    ORDER BY best_score DESC, doc_id ASC LIMIT 20
    """,
)
def q54(spark, sf):
    """T1 full ``multi_match type=best_fields`` semantics
    (elasticsearch_storage.py:89-111): title/description/text each scored
    with its OWN Lucene-style BM25 (per-field df, dl, avgdl) and the doc
    score = max of boosted field scores (^3/^2/^1) — q46 scores one field,
    q18 is the cheap TF approximation.  The driver corpus has no separate
    title/description columns, so the fields are deterministic projections
    of the token stream (title = first 5 tokens, description = first 12,
    body = all) built identically on both sides; the oracle replays all
    three BM25 pipelines + the boosted max in SQL — bit-identical."""
    from .functions.nbayes import doc_tokens
    from .operators.search import bm25_best_fields

    d = _t(spark, sf, "documents")
    # tokenize once: all three field frames are slices of this array, and
    # each field scorer consumes its frame from several subplans (idx,
    # dfreq, dl) — without the cut the corpus re-tokenizes ~9x
    base = d.select("doc_id", doc_tokens().alias("tokens")).localCheckpoint(
        eager=False
    )
    fields = {
        "title": base.select("doc_id", F.slice("tokens", 1, 5).alias("tokens")),
        "description": base.select(
            "doc_id", F.slice("tokens", 1, 12).alias("tokens")
        ),
        "body": base,
    }
    return bm25_best_fields(fields, list(_BM25_TERMS), k=20)


def _make_q47_sql() -> str:
    from .operators.similarity import rademacher_planes

    planes = rademacher_planes(n_tables=8, n_bits=6, dim=64)
    return f"""
    WITH idx AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 400),
    qs AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id >= 400),
    pl(tbl, p) AS (VALUES {_planes_values_sql(planes)}),
    ib AS (SELECT vec_id, tbl, {_bucket_sql('v', 6)} AS bucket FROM idx, pl),
    qb AS (SELECT query_id, tbl, {_bucket_sql('q', 6)} AS bucket FROM qs, pl),
    cand AS (
      SELECT DISTINCT qb.query_id, ib.vec_id
      FROM ib JOIN qb ON ib.tbl = qb.tbl AND ib.bucket = qb.bucket),
    scored AS (
      SELECT c.query_id, c.vec_id,
             round(list_dot_product(v, q)
                   / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(q, q))), 6) AS cos
      FROM cand c JOIN idx ON idx.vec_id = c.vec_id
                  JOIN qs  ON qs.query_id = c.query_id),
    r AS (
      SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id ASC) AS rank
      FROM scored)
    SELECT query_id, vec_id, cos, rank FROM r WHERE rank <= 3
    """


@q("q47_batch_ann_join", _make_q47_sql())
def q47(spark, sf):
    """Batch-query ANN: every query vector (vec_id ≥ 400) against the index
    (vec_id < 400) through the SAME multi-table sign-LSH bucketing on both
    sides — candidates are a (tbl, bucket) equi-join (queries broadcast, the
    index never shuffles), exact cosine rerank, top-3 per query.  The oracle
    replays the identical algorithm in SQL; recall vs brute force is measured
    in tests/test_similarity_ops.py."""
    from .operators.similarity import lsh_ann_join, rademacher_planes

    e = _t(spark, sf, "embeddings")
    planes = rademacher_planes(n_tables=8, n_bits=6, dim=64)
    index = e.filter(F.col("vec_id") < 400)
    queries = e.filter(F.col("vec_id") >= 400).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    return lsh_ann_join(index, queries, planes, k=3)


@q(
    "q49_ivf_ann_topk",
    """
    WITH c AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      FROM embeddings WHERE vec_id < 16),
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id >= 16 AND vec_id <> 499),
    qv AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 499),
    asg AS (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY
               (list_dot_product(v, v) - 2.0 * list_dot_product(v, cvec)
                + list_dot_product(cvec, cvec)) ASC, cid ASC) AS rn
      FROM v, c),
    cells AS (SELECT vec_id, cid FROM asg WHERE rn = 1),
    qc AS (
      SELECT cid FROM (
        SELECT cid,
               row_number() OVER (ORDER BY
                 (list_dot_product(q, q) - 2.0 * list_dot_product(q, cvec)
                  + list_dot_product(cvec, cvec)) ASC, cid ASC) AS rn
        FROM c, qv) WHERE rn <= 4)
    SELECT v.vec_id,
           round(list_dot_product(v, q)
                 / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(q, q))), 6) AS cos
    FROM v JOIN cells ON v.vec_id = cells.vec_id
           JOIN qc ON cells.cid = qc.cid, qv
    ORDER BY cos DESC, v.vec_id ASC LIMIT 10
    """,
)
def q49(spark, sf):
    """IVF-flat ANN (the second scale path next to sign-LSH q29/q47): assign
    every vector to its nearest coarse-quantizer cell, probe the query's 4
    nearest cells, exact cosine rerank, top-10.  The coarse quantizer is
    data-sampled (centroids = vec_id < 16) so the oracle replays the entire
    pipeline in SQL — on a real cluster the centroids come from KMeans and
    the cell id is a persisted partition column (partition-pruned probe)."""
    from .operators.similarity import ivf_topk

    e = _t(spark, sf, "embeddings")
    cents = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in e.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    index = e.filter((F.col("vec_id") >= 16) & (F.col("vec_id") != 499))
    query = e.filter(F.col("vec_id") == 499).select(F.col("embedding").alias("q"))
    return ivf_topk(index, query, cents, k=10, n_probe=4)


@q(
    "q50_robots_filter",
    f"""
    WITH p AS ({_PATH_SYNTH_SQL}),
    cand AS (
      SELECT p_partkey,
             'host' || CAST(p_partkey % 9 AS VARCHAR) || '.example.com' AS host,
             path,
             CAST(p_partkey % 9 AS INT) AS hidx
      FROM p)
    SELECT p_partkey, host, path,
           CASE WHEN hidx % 3 = 0
                 AND (path LIKE '/tag/%' OR path LIKE '/page/%') THEN FALSE
                ELSE TRUE END AS robots_allowed
    FROM cand
    """,
)
def q50(spark, sf):
    """F5/J2 through the driver oracle: the engine's broadcast-join +
    longest-prefix robots operator over the deterministic synth rule set
    (host%3==0 disallows /tag/ and /page/ with a catch-all allow '/',
    host%3==1 allows all, host%3==2 has no robots → permissive,
    url_frontier.py:139-163).  Because the rule set is a fixed literal, the
    longest-prefix outcome reduces to the CASE the oracle states — the
    operator itself runs the general array_max(struct(len, allow)) match."""
    from . import synth
    from .operators.robotsops import apply_robots

    p = _path_synth_spark(spark, sf)
    cand = p.select(
        "p_partkey",
        F.concat(
            F.lit("host"), (F.col("p_partkey") % 9).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        "path",
    )
    robots = synth.gen_robots(spark, 9)
    return apply_robots(cand, robots).select(
        "p_partkey", "host", "path", "robots_allowed"
    )


@q(
    "q53_ols_embedding_rank",
    f"""
    WITH u AS (
      SELECT p_partkey,
             CASE WHEN regexp_matches(raw_url, '^https?://') THEN raw_url
                  ELSE 'https://' || raw_url END AS url
      FROM ({_URL_SYNTH_SQL})),
    nemb AS (SELECT CAST(count(*) AS BIGINT) AS n_emb FROM embeddings),
    f AS (
      SELECT u.p_partkey, u.url,
             CAST(length(u.url) AS BIGINT)   AS url_len,
             CAST(u.p_partkey % 7 AS BIGINT) AS host_num,
             CAST(floor(1000.0 * CAST(e.embedding[1] AS DOUBLE)) AS BIGINT) AS emb_q,
             CAST(round(p.p_retailprice * 100, 0) AS BIGINT) AS y
      FROM u
      JOIN part p ON u.p_partkey = p.p_partkey
      CROSS JOIN nemb
      JOIN embeddings e ON e.vec_id = u.p_partkey % nemb.n_emb),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(url_len) AS s1, sum(host_num) AS s2, sum(emb_q) AS s3, sum(y) AS sy,
             sum(url_len * url_len)   AS s11, sum(url_len * host_num) AS s12,
             sum(url_len * emb_q)     AS s13, sum(host_num * host_num) AS s22,
             sum(host_num * emb_q)    AS s23, sum(emb_q * emb_q)       AS s33,
             sum(url_len * y) AS s1y, sum(host_num * y) AS s2y, sum(emb_q * y) AS s3y
      FROM f),
    -- mirror mlhooks.ols3_coeffs_from_sums op-for-op (exact integer sums →
    -- bit-identical doubles at every step)
    c AS (
      SELECT s1 / n AS m1, s2 / n AS m2, s3 / n AS m3, sy / n AS my,
             s11 / n - (s1 / n) * (s1 / n) AS c11,
             s12 / n - (s1 / n) * (s2 / n) AS c12,
             s13 / n - (s1 / n) * (s3 / n) AS c13,
             s22 / n - (s2 / n) * (s2 / n) AS c22,
             s23 / n - (s2 / n) * (s3 / n) AS c23,
             s33 / n - (s3 / n) * (s3 / n) AS c33,
             s1y / n - (s1 / n) * (sy / n) AS c1y,
             s2y / n - (s2 / n) * (sy / n) AS c2y,
             s3y / n - (s3 / n) * (sy / n) AS c3y
      FROM s),
    d AS (
      SELECT m1, m2, m3, my, c11, c12, c13, c22, c23, c33, c1y, c2y, c3y,
             c11 * (c22 * c33 - c23 * c23)
             - c12 * (c12 * c33 - c23 * c13)
             + c13 * (c12 * c23 - c22 * c13) AS det
      FROM c),
    b AS (
      SELECT m1, m2, m3, my,
             (c1y * (c22 * c33 - c23 * c23)
              - c12 * (c2y * c33 - c23 * c3y)
              + c13 * (c2y * c23 - c22 * c3y)) / det AS b1,
             (c11 * (c2y * c33 - c23 * c3y)
              - c1y * (c12 * c33 - c23 * c13)
              + c13 * (c12 * c3y - c2y * c13)) / det AS b2,
             (c11 * (c22 * c3y - c2y * c23)
              - c12 * (c12 * c3y - c2y * c13)
              + c1y * (c12 * c23 - c22 * c13)) / det AS b3
      FROM d)
    SELECT p_partkey, url, emb_q,
           round((((my - b1 * m1 - b2 * m2 - b3 * m3)
                   + b1 * url_len) + b2 * host_num) + b3 * emb_q, 6) AS pred_cents
    FROM f, b
    """,
)
def q53(spark, sf):
    """U10 extended with an EMBEDDING regressor (the reference concatenates a
    384-d MiniLM embedding to the scalar URL features before the GBR,
    ml/url_prioritizer.py:98,157-162): each URL keys into the embeddings
    table (vec_id = p_partkey mod |embeddings|, the deterministic stand-in
    for embed(url)), the first component is fixed-point-quantized
    (floor(1000·e[0]) — exact integer), and a 3-feature closed-form OLS is
    fit on exact integer sufficient statistics — one distributed aggregate,
    the same 100 TB-safe shape as q42.  The oracle retrains the identical
    model in SQL via the mirrored Cramer solve — bit-identical."""
    from .functions.mlhooks import fit_ols3, ols3_predict_col
    from .functions.urls import normalize_scheme

    u = _url_synth_spark(spark, sf).select(
        "p_partkey", normalize_scheme(F.col("raw_url")).alias("url")
    )
    p = _t(spark, sf, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("y"),
    )
    e = _t(spark, sf, "embeddings")
    # |embeddings| rides the plan as a broadcast 1-row aggregate — no
    # standalone count() job (r3 VERDICT nit)
    n_emb = e.agg(F.count(F.lit(1)).alias("_nemb"))
    emb_q = F.floor(
        F.lit(1000.0) * F.element_at("embedding", 1).cast("double")
    ).cast("long")
    feats = (
        u.join(p, "p_partkey")
        .crossJoin(F.broadcast(n_emb))
        .join(
            F.broadcast(e.select(F.col("vec_id").alias("_vid"), "embedding")),
            F.col("p_partkey") % F.col("_nemb") == F.col("_vid"),
        )
        .drop("_nemb")
        .select(
            "p_partkey",
            "url",
            F.length("url").cast("long").alias("url_len"),
            (F.col("p_partkey") % 7).cast("long").alias("host_num"),
            emb_q.alias("emb_q"),
            "y",
        )
    )
    coef = fit_ols3(feats, "url_len", "host_num", "emb_q", "y")
    pred = ols3_predict_col(
        coef, F.col("url_len"), F.col("host_num"), F.col("emb_q")
    )
    return feats.select(
        "p_partkey", "url", "emb_q", F.round(pred, 6).alias("pred_cents")
    )


@q(
    "q48_centroid_classifier",
    """
    WITH feats AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^\\sA-Za-z0-9]')) AS BIGINT)
               AS n_tokens,
             CASE WHEN len(regexp_extract_all(text, '(?i)article|post|story|news')) = 0
                   AND len(regexp_extract_all(text, '(?i)product|price|\\$|€|£')) = 0
                  THEN 'other'
                  WHEN len(regexp_extract_all(text, '(?i)article|post|story|news'))
                       >= len(regexp_extract_all(text, '(?i)product|price|\\$|€|£'))
                  THEN 'article' ELSE 'product' END AS label
      FROM documents),
    cent AS (
      SELECT label,
             sum(n_chars)  / CAST(count(*) AS BIGINT) AS mu1,
             sum(n_tokens) / CAST(count(*) AS BIGINT) AS mu2
      FROM feats GROUP BY label),
    dist AS (
      SELECT f.doc_id, c.label,
             (f.n_chars - c.mu1) * (f.n_chars - c.mu1)
           + (f.n_tokens - c.mu2) * (f.n_tokens - c.mu2) AS d2
      FROM feats f, cent c),
    r AS (
      SELECT doc_id, label, d2,
             row_number() OVER (PARTITION BY doc_id ORDER BY d2 ASC, label ASC) AS rn
      FROM dist)
    SELECT doc_id, label AS predicted FROM r WHERE rn = 1
    """,
)
def q48(spark, sf):
    """U11 with a REAL training path: nearest-centroid content classifier.
    Labels come from the deterministic pattern rule (the reference's
    weak-supervision analog of ml/content_classifier.py:167-212); per-class
    centroids over (n_chars, n_tokens) are fit as ONE distributed aggregate
    on exact integer sums, then every doc is assigned the closest centroid
    (tie → label asc).  The oracle trains the same centroids in SQL —
    integer sufficient statistics make the doubles bit-identical."""
    from .functions.textstats import token_count_col

    d = _t(spark, sf, "documents")
    art = F.regexp_count("text", F.lit("(?i)article|post|story|news"))
    prod = F.regexp_count("text", F.lit(r"(?i)product|price|\$|€|£"))
    feats = d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        token_count_col("text").cast("long").alias("n_tokens"),
        F.when((art == 0) & (prod == 0), "other")
        .when(art >= prod, "article")
        .otherwise("product")
        .alias("label"),
    )
    cent = feats.groupBy("label").agg(
        (F.sum("n_chars") / F.count(F.lit(1))).alias("mu1"),
        (F.sum("n_tokens") / F.count(F.lit(1))).alias("mu2"),
    )
    dist = feats.crossJoin(F.broadcast(cent.select(F.col("label").alias("clabel"), "mu1", "mu2")))
    d2 = (F.col("n_chars") - F.col("mu1")) * (F.col("n_chars") - F.col("mu1")) + (
        F.col("n_tokens") - F.col("mu2")
    ) * (F.col("n_tokens") - F.col("mu2"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("d2"), F.asc("clabel"))
    return (
        dist.withColumn("d2", d2)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("clabel").alias("predicted"))
    )


# =============================================================================
# Round-3 addition: trained token-context NER tagger (U7 upgrade)
# =============================================================================
_NER_GAZ = ("spark", "customer", "vector", "window")
_NER_GAZ_SQL = "('spark', 'customer', 'vector', 'window')"


@q(
    "q55_ner_tagger",
    f"""
    WITH docs AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS arr
      FROM documents),
    occ0 AS (
      SELECT doc_id, arr,
             unnest(arr) AS token,
             unnest(generate_series(1, len(arr))) AS i
      FROM docs),
    occ AS (
      SELECT doc_id, i, token,
             CASE WHEN i = 1 THEN '^' ELSE arr[i-1] END AS prev,
             CASE WHEN i = len(arr) THEN '$' ELSE arr[i+1] END AS nxt,
             CASE WHEN token IN {_NER_GAZ_SQL} THEN 'ENT' ELSE 'O' END AS label
      FROM occ0),
    events AS (
      SELECT doc_id, i, token, label, 't:' || token AS feat FROM occ
      UNION ALL
      SELECT doc_id, i, token, label, 'p:' || prev AS feat FROM occ
      UNION ALL
      SELECT doc_id, i, token, label, 'n:' || nxt AS feat FROM occ),
    vocab AS (SELECT DISTINCT feat FROM events),
    vsz AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
    cls AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM occ GROUP BY label),
    ntot AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM cls),
    cnts AS (
      SELECT label, feat, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY label, feat),
    tots AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS tot FROM cnts GROUP BY label),
    weights AS (
      SELECT c.label, v.feat,
             CAST(floor(1e6 * ln((COALESCE(cn.cnt, 0) + 1.0)
                                 / (t.tot + CAST(vs.v AS DOUBLE))) + 0.5) AS BIGINT) AS w
      FROM cls c CROSS JOIN vocab v CROSS JOIN vsz vs
      JOIN tots t ON t.label = c.label
      LEFT JOIN cnts cn ON cn.label = c.label AND cn.feat = v.feat),
    priors AS (
      SELECT c.label,
             CAST(floor(1e6 * ln(CAST(c.n AS DOUBLE) / CAST(nt.n AS DOUBLE)) + 0.5)
                  AS BIGINT) AS prior
      FROM cls c CROSS JOIN ntot nt),
    escore AS (
      SELECT e.doc_id, e.i, e.token, w.label AS clabel,
             CAST(sum(w.w) AS BIGINT) AS fsum
      FROM events e JOIN weights w ON w.feat = e.feat
      GROUP BY e.doc_id, e.i, e.token, w.label),
    oscore AS (
      SELECT s.doc_id, s.i, s.token,
             max(CASE WHEN s.clabel = 'ENT' THEN s.fsum + p.prior END) AS s_ent,
             max(CASE WHEN s.clabel = 'O'   THEN s.fsum + p.prior END) AS s_o
      FROM escore s JOIN priors p ON p.label = s.clabel
      GROUP BY s.doc_id, s.i, s.token)
    SELECT doc_id, token,
           CAST(count(*) AS BIGINT) AS n_occ,
           CAST(sum(CASE WHEN s_ent >= s_o THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_ent,
           CAST(sum(s_ent - s_o) AS BIGINT) AS margin
    FROM oscore
    WHERE s_ent >= s_o OR token IN {_NER_GAZ_SQL}
    GROUP BY doc_id, token
    """,
)
def q55(spark, sf):
    """U7 with a REAL training path (was: gazetteer lookup only, q44): a
    token-context naive-Bayes NER tagger.  The q44 gazetteer is now only the
    weak-supervision LABELING function (ENT vs O per token occurrence); the
    model is trained on an emission feature (the token itself) plus CONTEXT
    features (prev/next token with ^/$ boundary sentinels) — the classic
    NB/HMM tagger feature set — via one distributed integer-count aggregate,
    Laplace-smoothed,
    log-weights quantized to integer micro-nats (the q37/q48 technique) — so
    it can tag tokens the gazetteer has never seen from their context alone,
    which is what separates a tagger from a dictionary.  The oracle RETRAINS
    the identical model in SQL: the Spark side derives context via
    lag/lead windows (the shape that scales — no array duplication), the
    DuckDB side via 1-based array indexing over a zipped unnest; both yield
    the same (prev, next) pairs.  Output: per (doc, token) occurrence count,
    model-predicted entity mentions, and the integer ENT-vs-O log-margin,
    restricted to gazetteer tokens plus model-discovered entities (reference:
    processor.py:289-366 runs spaCy+BERT NER here; same plug shape)."""
    from .functions.nbayes import doc_tokens as nb_tokens

    d = _t(spark, sf, "documents")
    toks = d.select(
        "doc_id", F.posexplode(nb_tokens()).alias("pos", "token")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    occ = toks.select(
        "doc_id",
        "pos",
        "token",
        F.concat(
            F.lit("p:"), F.coalesce(F.lag("token").over(win), F.lit("^"))
        ).alias("f_prev"),
        F.concat(
            F.lit("n:"), F.coalesce(F.lead("token").over(win), F.lit("$"))
        ).alias("f_next"),
        F.when(F.col("token").isin(*_NER_GAZ), "ENT").otherwise("O").alias("label"),
    )
    events = (
        occ.select(
            "doc_id", "pos", "token", "label",
            F.concat(F.lit("t:"), F.col("token")).alias("feat"),
        )
        .unionByName(
            occ.select("doc_id", "pos", "token", "label", F.col("f_prev").alias("feat"))
        )
        .unionByName(
            occ.select("doc_id", "pos", "token", "label", F.col("f_next").alias("feat"))
        )
    )

    # -- fit: DISTRIBUTED (VERDICT r3 #3) — per-(label, feat) counts stay in
    # DataFrames, smoothed log-weights are SQL exprs over the labels×vocab
    # grid, and nothing vocabulary-sized touches the driver (at web scale
    # the feature vocab — tokens + prev/next contexts — is 10⁸+)
    cnts = events.groupBy("label", "feat").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = cnts.select("feat").distinct()
    vsz = vocab.agg(F.count(F.lit(1)).cast("double").alias("_V"))
    tots = cnts.groupBy("label").agg(F.sum("cnt").alias("tot"))
    wdf = (
        vocab.crossJoin(F.broadcast(tots))
        .join(cnts, ["label", "feat"], "left")
        .crossJoin(F.broadcast(vsz))
        .select(
            F.col("label").alias("clabel"),
            "feat",
            F.floor(
                1e6
                * F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + 1.0)
                    / (F.col("tot") + F.col("_V"))
                )
                + 0.5
            ).cast("long").alias("w"),
        )
    )
    cls = occ.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    ntot = cls.agg(F.sum("n").cast("double").alias("_n"))
    pdf = cls.crossJoin(F.broadcast(ntot)).select(
        F.col("label").alias("clabel"),
        F.floor(1e6 * F.log(F.col("n") / F.col("_n")) + 0.5)
        .cast("long")
        .alias("prior"),
    )

    # -- score: broadcast the model, integer sums, argmax-free margin ---------
    esc = (
        events.select("doc_id", "pos", "token", "feat")
        .join(F.broadcast(wdf), "feat")
        .groupBy("doc_id", "pos", "token", "clabel")
        .agg(F.sum("w").alias("fsum"))
    )
    osc = (
        esc.join(F.broadcast(pdf), "clabel")
        .groupBy("doc_id", "pos", "token")
        .agg(
            F.max(
                F.when(F.col("clabel") == "ENT", F.col("fsum") + F.col("prior"))
            ).alias("s_ent"),
            F.max(
                F.when(F.col("clabel") == "O", F.col("fsum") + F.col("prior"))
            ).alias("s_o"),
        )
    )
    pred_ent = F.col("s_ent") >= F.col("s_o")  # tie -> ENT (label asc)
    return (
        osc.filter(pred_ent | F.col("token").isin(*_NER_GAZ))
        .groupBy("doc_id", "token")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.sum(pred_ent.cast("long")).alias("n_pred_ent"),
            F.sum(F.col("s_ent") - F.col("s_o")).alias("margin"),
        )
    )


# =============================================================================
# T1 analyzer fidelity: BM25 under the ES `english` analyzer (stopword
# removal + suffix stemming).  The reference's index uses the default
# `standard` analyzer (q46); english is ES's one-line index-setting upgrade,
# and the query here uses INFLECTED terms (queries/tables/sparks) that match
# the corpus' base forms only through the stem chain — the match set is empty
# under q46's analyzer, non-trivial under this one.  The oracle replays the
# identical stem-rule chain (operators/search._EN_STEM_RULES) as SQL CTEs.
# =============================================================================
_BM25_EN_QUERY = ("queries", "sparks", "tables")


def _bm25_en_terms() -> list[str]:
    from .operators.search import en_stem_py

    return sorted({en_stem_py(t) for t in _BM25_EN_QUERY})


def _en_tokcol() -> str:
    """The english-analyzer token expression, GENERATED from the engine's
    own stopword set (search.EN_STOPWORDS — Lucene's english stop set) so
    the oracle can never desync from the JVM filter."""
    from .operators.search import EN_STOPWORDS

    stops = ",".join(f"'{w}'" for w in EN_STOPWORDS)
    return (
        "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'), "
        f"x -> x <> '' AND x NOT IN ({stops}))"
    )


_EN_TOKCOL = _en_tokcol()


def _make_q56_sql() -> str:
    """q56 oracle DERIVED from the engine's own analyzer definition
    (ADVICE r3): the stemming CTE chain replays _EN_STEM_RULES via
    en_stem_sql_ctes, and the query-term list is _bm25_en_terms() — an edit
    to either the rules or the query string can no longer desync engine and
    oracle."""
    from .operators.search import en_stem_sql_ctes

    terms = _bm25_en_terms()  # already sorted — the engine's summation order
    in_list = ", ".join(f"'{t}'" for t in terms)
    cases = ",\n             ".join(
        f"sum(CASE WHEN term = '{t}' THEN term_score END) AS s{i}"
        for i, t in enumerate(terms)
    )
    total = " + ".join(f"coalesce(s{i}, 0.0)" for i in range(len(terms)))
    return f"""
    WITH raw AS (
      SELECT doc_id, unnest({_EN_TOKCOL}) AS t FROM documents),
    {en_stem_sql_ctes()},
    idx AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM toks WHERE term IN ({in_list})
      GROUP BY doc_id, term),
    dl AS (
      SELECT doc_id, CAST(len({_EN_TOKCOL}) AS DOUBLE) AS dl FROM documents),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(CAST(dl AS BIGINT)) AS BIGINT) / CAST(count(*) AS BIGINT) AS avgdl
      FROM dl),
    dfreq AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM idx GROUP BY term),
    scored AS (
      SELECT idx.doc_id, idx.term,
             ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * tf * 2.2
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl)) AS term_score
      FROM idx JOIN dfreq ON idx.term = dfreq.term
               JOIN dl ON idx.doc_id = dl.doc_id, stats),
    agg AS (
      SELECT doc_id,
             {cases}
      FROM scored GROUP BY doc_id)
    SELECT doc_id,
           round({total}, 6) AS bm25
    FROM agg ORDER BY bm25 DESC, doc_id ASC LIMIT 20
    """


@q("q56_bm25_english_analyzer", _make_q56_sql())
def q56(spark, sf):
    """T1 analyzer option: BM25 with the english analyzer — inflected query
    terms are stemmed driver-side (en_stem_py), document tokens are stemmed
    in the JVM (en_stem regexp chain), and Lucene's field-length norm counts
    post-stopword tokens (bm25_topk's english path).  Same exact-integer
    avgdl and fixed-term-order summation as q46 keep doubles bit-identical."""
    from .operators.search import bm25_topk

    d = _t(spark, sf, "documents")
    return bm25_topk(d, terms=_bm25_en_terms(), k=20, analyzer="english")


# =============================================================================
# Real image decode (round 4, VERDICT r3 #5): BMP/PPM payloads -> pixels ->
# features.  The Spark side PARSES the actual binary payloads (decode_bmp /
# decode_ppm inside the mapInPandas UDF); the oracle recomputes the features
# from synth_pixels' generative FORMULA in SQL without ever seeing the
# encodings — a decoder bug on either format cannot cancel out.  Everything
# compared is integer-exact (w, h, channel sums, integer-binned luminance
# histogram), so float32 feature storage round-trips losslessly.
# =============================================================================
@q(
    "q57_image_decode_features",
    """
    WITH m AS (
      SELECT CAST(i AS BIGINT) AS media_id,
             CAST(8 + i % 5 AS BIGINT) AS w,
             CAST(6 + i % 3 AS BIGINT) AS h
      FROM range(0, 60) t(i)),
    px AS (
      SELECT media_id, w, h,
             (x * 31 + media_id * 7) % 256 AS r,
             (y * 53 + media_id * 13) % 256 AS g,
             (x * y + media_id) % 256 AS b
      FROM m, unnest(range(0, h)) ty(y), unnest(range(0, w)) tx(x)),
    sums AS (
      SELECT media_id, w, h,
             CAST(sum(r) AS BIGINT) AS sum_r,
             CAST(sum(g) AS BIGINT) AS sum_g,
             CAST(sum(b) AS BIGINT) AS sum_b
      FROM px GROUP BY media_id, w, h),
    bins AS (
      SELECT media_id, (299 * r + 587 * g + 114 * b) * 11 // 255001 AS bin,
             count(*) AS cnt
      FROM px GROUP BY media_id, bin),
    grid AS (
      SELECT m.media_id, CAST(kk AS BIGINT) AS bin
      FROM m, unnest(range(0, 11)) t2(kk)),
    hist AS (
      SELECT grid.media_id,
             array_to_string(
               list(CAST(coalesce(bins.cnt, 0) AS INT) ORDER BY grid.bin),
               ',') AS hist11
      FROM grid LEFT JOIN bins
        ON grid.media_id = bins.media_id AND grid.bin = bins.bin
      GROUP BY grid.media_id)
    SELECT s.media_id, CAST(s.w AS INT) AS w, CAST(s.h AS INT) AS h,
           s.sum_r, s.sum_g, s.sum_b, hist.hist11
    FROM sums s JOIN hist ON s.media_id = hist.media_id
    """,
)
def q57(spark, sf):
    """Multimodal REAL decode: BMP/PPM binary payloads parsed to pixels in
    the Arrow-batched mapInPandas UDF (operators/multimodal.decode_real),
    features from actual pixel values.  Integer-exact projection of the
    float32 feature vector: w·h ≤ 96 pixels and channel sums < 2^24, so
    round(feature·npx) recovers the exact integer sufficient statistics."""
    from .operators.multimodal import extract_features, synth_media_real

    media = synth_media_real(spark, n=60)
    feats = extract_features(media, decode="real")
    f = F.col("feature")
    w = F.round(f[0]).cast("int")
    h = F.round(f[1]).cast("int")
    npx = (w * h).cast("long")
    hist11 = F.array_join(
        F.transform(
            F.slice(f, 6, 11),
            lambda x: F.round(x * npx).cast("int").cast("string"),
        ),
        ",",
    )
    return feats.select(
        "media_id",
        w.alias("w"),
        h.alias("h"),
        F.round(f[2] * npx).cast("long").alias("sum_r"),
        F.round(f[3] * npx).cast("long").alias("sum_g"),
        F.round(f[4] * npx).cast("long").alias("sum_b"),
        hist11.alias("hist11"),
    )


# =============================================================================
# Real audio decode (round 4): RIFF/WAVE PCM16 payloads -> samples ->
# features.  Same oracle discipline as q57: Spark parses the actual WAV
# container (decode_wav in the mapInPandas UDF); the oracle recomputes the
# features from synth_samples' generative formula in SQL.  All compared
# values are integer-exact (sample sums bounded < 2^24 survive float32).
# =============================================================================
@q(
    "q58_audio_decode_features",
    """
    WITH m AS (SELECT CAST(i AS BIGINT) AS media_id FROM range(0, 40) t(i)),
    s AS (
      SELECT media_id, CAST(j AS BIGINT) AS j,
             (j * j + 31 * j * media_id + media_id) % 16384 - 8192 AS v
      FROM m, unnest(range(0, 400)) tj(j)),
    zc AS (
      SELECT media_id,
             CAST(sum(CASE WHEN v * prev_v < 0 THEN 1 ELSE 0 END) AS BIGINT) AS zc
      FROM (SELECT media_id, v,
                   lag(v) OVER (PARTITION BY media_id ORDER BY j) AS prev_v
            FROM s)
      WHERE prev_v IS NOT NULL GROUP BY media_id),
    sums AS (
      SELECT media_id, CAST(sum(v) AS BIGINT) AS sum_v FROM s GROUP BY media_id),
    bins AS (
      SELECT media_id, (v + 32768) * 12 // 65536 AS bin, count(*) AS cnt
      FROM s GROUP BY media_id, bin),
    grid AS (
      SELECT m.media_id, CAST(kk AS BIGINT) AS bin
      FROM m, unnest(range(0, 12)) t2(kk)),
    hist AS (
      SELECT grid.media_id,
             array_to_string(
               list(CAST(coalesce(bins.cnt, 0) AS INT) ORDER BY grid.bin),
               ',') AS hist12
      FROM grid LEFT JOIN bins
        ON grid.media_id = bins.media_id AND grid.bin = bins.bin
      GROUP BY grid.media_id)
    SELECT sums.media_id, CAST(400 AS INT) AS n_samples, CAST(8000 AS INT) AS rate,
           sums.sum_v, zc.zc, hist.hist12
    FROM sums JOIN zc ON sums.media_id = zc.media_id
              JOIN hist ON sums.media_id = hist.media_id
    """,
)
def q58(spark, sf):
    """Multimodal REAL audio decode: WAV containers parsed to int16 samples
    in the Arrow-batched UDF (operators/multimodal.decode_wav), features
    from actual sample values (mean, strict zero crossings, integer-binned
    amplitude histogram)."""
    from .operators.multimodal import extract_features, synth_media_audio

    media = synth_media_audio(spark, n=40, n_samples=400)
    feats = extract_features(media, decode="real")
    f = F.col("feature")
    n = F.round(f[0]).cast("long")
    hist12 = F.array_join(
        F.transform(
            F.slice(f, 5, 12),
            lambda x: F.round(x * n).cast("int").cast("string"),
        ),
        ",",
    )
    return feats.select(
        "media_id",
        F.round(f[0]).cast("int").alias("n_samples"),
        F.round(f[1]).cast("int").alias("rate"),
        F.round(f[2] * n).cast("long").alias("sum_v"),
        F.round(f[3]).cast("long").alias("zc"),
        hist12.alias("hist12"),
    )


# =============================================================================
# Real video decode (round 4): minimal-AVI containers parsed to frame
# arrays, features FRAME-SAMPLED (first/middle/last) — the decode-a-few-
# frames shape for hour-long videos.  Oracle recomputes from the per-frame
# pixel formula (seed = media_id*97 + frame).
# =============================================================================
@q(
    "q59_video_decode_features",
    """
    WITH m AS (
      SELECT CAST(i AS BIGINT) AS media_id,
             CAST(4 + i % 3 AS BIGINT) AS n_f
      FROM range(0, 12) t(i)),
    fr AS (
      SELECT media_id, n_f, CAST(j AS BIGINT) AS j,
             media_id * 97 + j AS seed
      FROM m, unnest(range(0, n_f)) tj(j)
      WHERE j = 0 OR j = n_f // 2 OR j = n_f - 1),
    px AS (
      SELECT media_id, n_f,
             (x * 31 + seed * 7) % 256 AS r,
             (y * 53 + seed * 13) % 256 AS g,
             (x * y + seed) % 256 AS b
      FROM fr, unnest(range(0, 6)) ty(y), unnest(range(0, 8)) tx(x)),
    bins AS (
      SELECT media_id, (299 * r + 587 * g + 114 * b) * 13 // 255001 AS bin,
             count(*) AS cnt
      FROM px GROUP BY media_id, bin),
    grid AS (
      SELECT m.media_id, CAST(kk AS BIGINT) AS bin
      FROM m, unnest(range(0, 13)) t2(kk)),
    hist AS (
      SELECT grid.media_id,
             array_to_string(
               list(CAST(coalesce(bins.cnt, 0) AS INT) ORDER BY grid.bin),
               ',') AS hist13
      FROM grid LEFT JOIN bins
        ON grid.media_id = bins.media_id AND grid.bin = bins.bin
      GROUP BY grid.media_id)
    SELECT m.media_id, CAST(m.n_f AS INT) AS n_frames,
           CAST(8 AS INT) AS w, CAST(6 AS INT) AS h, hist.hist13
    FROM m JOIN hist ON m.media_id = hist.media_id
    """,
)
def q59(spark, sf):
    """Multimodal REAL video decode: AVI containers parsed to (N, H, W, 3)
    frame arrays in the Arrow-batched UDF (operators/multimodal.decode_avi),
    features from the SAMPLED frames' actual pixels (first/middle/last, 144
    pixels -> integer-binned luminance histogram)."""
    from .operators.multimodal import extract_features, synth_media_video

    media = synth_media_video(spark, n=12)
    feats = extract_features(media, decode="real")
    f = F.col("feature")
    npx = F.lit(3 * 8 * 6)  # 3 sampled frames x 8x6 px (n_frames >= 4)
    hist13 = F.array_join(
        F.transform(
            F.slice(f, 4, 13),
            lambda x: F.round(x * npx).cast("int").cast("string"),
        ),
        ",",
    )
    return feats.select(
        "media_id",
        F.round(f[0]).cast("int").alias("n_frames"),
        F.round(f[1]).cast("int").alias("w"),
        F.round(f[2]).cast("int").alias("h"),
        hist13.alias("hist13"),
    )


# =============================================================================
# Corpus-quality gates + LM perplexity filter (LLM-pipeline surface)
# =============================================================================
@q(
    "q62_gopher_repetition",
    r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
      FROM documents),
    base AS (
      SELECT doc_id, len(ws) AS n_words,
             len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha
      FROM w),
    g AS (
      SELECT doc_id, 2 AS n,
             unnest(list_transform(range(2, len(ws)+1), i -> ws[i-1] || ' ' || ws[i])) AS gram
      FROM w
      UNION ALL
      SELECT doc_id, 3 AS n,
             unnest(list_transform(range(3, len(ws)+1),
                    i -> ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i])) AS gram
      FROM w),
    gc AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
    st AS (
      SELECT doc_id,
             max(CASE WHEN n = 2 THEN c END) AS max_bg,
             sum(CASE WHEN n = 2 THEN c END) AS tot_bg,
             sum(CASE WHEN n = 3 AND c > 1 THEN c ELSE 0 END) AS dup_tg,
             sum(CASE WHEN n = 3 THEN c END) AS tot_tg
      FROM gc GROUP BY 1),
    r AS (
      SELECT b.doc_id, CAST(b.n_words AS BIGINT) AS n_words,
             round(coalesce(st.max_bg * 1.0 / st.tot_bg, 0.0), 6) AS top_bigram_frac,
             round(coalesce(st.dup_tg * 1.0 / st.tot_tg, 0.0), 6) AS dup_trigram_frac,
             round(b.n_alpha * 1.0 / greatest(b.n_words, 1), 6) AS alpha_word_frac
      FROM base b LEFT JOIN st USING (doc_id))
    SELECT *, (n_words >= 50 AND n_words <= 100000 AND top_bigram_frac <= 0.18
               AND dup_trigram_frac <= 0.30 AND alpha_word_frac >= 0.8) AS keep
    FROM r
    """,
)
def q62(spark, sf):
    """Gopher-style repetition/quality gate (Rae et al. 2021 §A1.1) —
    top-bigram fraction, duplicate-trigram fraction, alpha-word fraction,
    combined keep decision.  One explode feeds both gram sizes; every
    shuffle is keyed by doc_id (operators/quality.py)."""
    from .operators.quality import gopher_repetition

    return gopher_repetition(_t(spark, sf, "documents"))


@q(
    "q63_decontaminate",
    r"""
    WITH w AS (
      SELECT doc_id, doc_id % 97 = 0 AS is_bench,
             list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
      FROM documents),
    g AS (
      SELECT doc_id, is_bench,
             unnest(list_transform(range(4, len(ws)+1),
                    i -> ws[i-3] || ' ' || ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i])) AS gram
      FROM w),
    bg AS (SELECT DISTINCT gram FROM g WHERE is_bench),
    m AS (
      SELECT g.doc_id, count(DISTINCT g.gram) AS ns
      FROM g JOIN bg USING (gram) WHERE NOT g.is_bench GROUP BY 1)
    SELECT w.doc_id, CAST(coalesce(m.ns, 0) AS BIGINT) AS n_shared,
           coalesce(m.ns, 0) > 0 AS contaminated
    FROM w LEFT JOIN m USING (doc_id) WHERE NOT w.is_bench
    """,
)
def q63(spark, sf):
    """Benchmark decontamination (GPT-3 appendix C protocol): docs sharing
    any word 4-gram with the held eval slice (doc_id % 97 == 0) are
    flagged; the eval gram set is broadcast so the corpus side never
    shuffles on the gram key (operators/quality.py).  n=4 exercises real
    matches on the synthetic corpus; production default is n=8."""
    from .operators.quality import decontaminate

    d = _t(spark, sf, "documents")
    is_bench = F.col("doc_id") % 97 == 0
    return decontaminate(d.filter(~is_bench), d.filter(is_bench), n=4)


@q(
    "q64_lm_perplexity",
    r"""
    WITH w AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
      FROM documents),
    bg AS (
      SELECT doc_id, source,
             unnest(list_transform(range(2, len(ws)+1), i -> ws[i-1] || ' ' || ws[i])) AS bg
      FROM w),
    tb AS (SELECT bg, count(*) AS c2 FROM bg WHERE source = 'src0' GROUP BY 1),
    tc AS (SELECT split_part(bg, ' ', 1) AS ctx, count(*) AS c1
           FROM bg WHERE source = 'src0' GROUP BY 1),
    vv AS (SELECT count(DISTINCT x) + 1 AS v
           FROM (SELECT unnest(ws) AS x FROM w WHERE source = 'src0')),
    sc AS (
      SELECT b.doc_id, count(*) AS n_bigrams,
             round(avg(-ln((coalesce(tb.c2, 0) + 1) * 1.0
                           / (coalesce(tc.c1, 0) + vv.v))), 6) AS avg_nll
      FROM bg b
      LEFT JOIN tb USING (bg)
      LEFT JOIN tc ON split_part(b.bg, ' ', 1) = tc.ctx
      CROSS JOIN vv
      GROUP BY 1)
    SELECT d.doc_id, CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           sc.avg_nll
    FROM documents d LEFT JOIN sc USING (doc_id)
    """,
)
def q64(spark, sf):
    """CCNet-style LM perplexity filter (Wenzek et al. 2019): add-1 bigram
    LM fit on the src0 slice as pure DataFrame aggregates (distributed-fit
    convention, operators/lm.py), every document scored by average negative
    log-likelihood.  V rides the plan as a broadcast 1-row aggregate."""
    from .operators.lm import bigram_lm_fit, bigram_lm_score

    d = _t(spark, sf, "documents")
    c2, c1, v = bigram_lm_fit(d.filter(F.col("source") == "src0"))
    return bigram_lm_score(d, c2, c1, v)


def _make_q65_sql(iters: int = 3) -> str:
    """Oracle for host PageRank: the power iteration UNROLLED as one CTE per
    step, generated from the same iteration count the engine runs — engine
    and oracle cannot desync on the formula (the derived-oracle convention
    from q56).  All rank arithmetic is CAST to DOUBLE (DuckDB decimal
    literals would otherwise run the recurrence in DECIMAL)."""
    step = """
    r{i} AS (
      SELECT nodes.host,
             (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
               + CAST(0.85 AS DOUBLE) * coalesce(s.sm, 0) AS r
      FROM nodes CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS host, sum(rp.r / deg.deg) AS sm
        FROM e JOIN deg USING (src) JOIN r{p} rp ON rp.host = e.src
        GROUP BY 1) s USING (host))"""
    steps = ",".join(step.format(i=i + 1, p=i) for i in range(iters))
    return f"""
    WITH e AS (
      SELECT DISTINCT 'h' || CAST(l_suppkey % 40 AS VARCHAR) AS src,
                      'h' || CAST(l_partkey % 40 AS VARCHAR) AS dst
      FROM lineitem),
    nodes AS (SELECT src AS host FROM e UNION SELECT dst AS host FROM e),
    nn AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
    r0 AS (SELECT host, CAST(1.0 AS DOUBLE) / nn.n AS r FROM nodes CROSS JOIN nn),
    {steps}
    SELECT host, round(r, 6) AS rank FROM r{iters}
    """


@q("q65_host_pagerank", _make_q65_sql(3))
def q65(spark, sf):
    """Host-graph PageRank (3 power iterations, d=0.85) — the real version
    of the priority score's host-authority proxy (reference
    url_prioritizer.py domain weighting; operators/graph.py).  The host
    link graph is synthesized from lineitem by identical expressions on
    both sides (crawl-query convention)."""
    from .operators.graph import host_pagerank

    li = _t(spark, sf, "lineitem")
    edges = li.select(
        F.concat(F.lit("h"), (F.col("l_suppkey") % 40).cast("string")).alias(
            "src"
        ),
        F.concat(F.lit("h"), (F.col("l_partkey") % 40).cast("string")).alias(
            "dst"
        ),
    )
    return host_pagerank(edges, iters=3, damping=0.85)


@q(
    "q66_url_template_traps",
    r"""
    WITH u AS (
      SELECT 'https://h' || CAST(l_suppkey % 40 AS VARCHAR) || '.example.com'
             || CASE CAST(l_linenumber % 3 AS INT)
                  WHEN 0 THEN '/cal/' || CAST(l_orderkey % 12 AS VARCHAR)
                              || '/' || CAST(l_orderkey AS VARCHAR)
                  WHEN 1 THEN '/item/' || CAST(l_partkey AS VARCHAR)
                  ELSE '/s/' || md5(CAST(l_orderkey AS VARCHAR))
                END AS url
      FROM lineitem),
    t AS (
      SELECT lower(regexp_extract(url, '^https?://([^/]+)', 1)) AS host,
             regexp_replace(
               regexp_replace(
                 coalesce(nullif(regexp_extract(url, '^https?://[^/]*(/.*)$', 1), ''), '/'),
                 '[0-9a-f]{8,}', 'H', 'g'),
               '[0-9]+', 'N', 'g') AS template,
             url
      FROM u)
    SELECT host, template, CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
           count(DISTINCT url) >= 50 AS trap
    FROM t GROUP BY 1, 2
    """,
)
def q66(spark, sf):
    """Crawler-trap detection via URL-template mining (operators/urlmine.py):
    digit runs -> N, long hex runs -> H; a (host, template) cell holding
    >= threshold distinct URLs is a generated URL space that would absorb
    the frontier.  The scale guard the reference's F6 hygiene filter
    (html_parser.py:140-155) lacks.  URL corpus synthesized from lineitem
    by identical expressions on both sides (crawl-query convention)."""
    from .operators.urlmine import mine_url_templates

    li = _t(spark, sf, "lineitem")
    path = (
        F.when(
            (F.col("l_linenumber") % 3).cast("int") == 0,
            F.concat(
                F.lit("/cal/"),
                (F.col("l_orderkey") % 12).cast("string"),
                F.lit("/"),
                F.col("l_orderkey").cast("string"),
            ),
        )
        .when(
            (F.col("l_linenumber") % 3).cast("int") == 1,
            F.concat(F.lit("/item/"), F.col("l_partkey").cast("string")),
        )
        .otherwise(
            F.concat(F.lit("/s/"), F.md5(F.col("l_orderkey").cast("string")))
        )
    )
    urls = li.select(
        F.concat(
            F.lit("https://h"),
            (F.col("l_suppkey") % 40).cast("string"),
            F.lit(".example.com"),
            path,
        ).alias("url")
    )
    return mine_url_templates(urls, threshold=50)


@q(
    "q67_repeated_passages",
    r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
      FROM documents),
    g0 AS (
      SELECT doc_id,
             unnest(list_transform(range(4, len(ws)+1),
                    i -> ws[i-3] || ' ' || ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i])) AS gram
      FROM w),
    g AS (SELECT DISTINCT doc_id, gram FROM g0),
    df AS (SELECT gram, count(*) AS dfq FROM g GROUP BY 1),
    st AS (
      SELECT g.doc_id, count(*) AS n_grams,
             sum(CASE WHEN df.dfq >= 2 THEN 1 ELSE 0 END) AS n_shared
      FROM g JOIN df USING (gram) GROUP BY 1)
    SELECT d.doc_id,
           CAST(coalesce(st.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(st.n_shared, 0) AS BIGINT) AS n_shared,
           round(coalesce(st.n_shared, 0) * 1.0
                 / greatest(coalesce(st.n_grams, 0), 1), 6) AS shared_frac
    FROM documents d LEFT JOIN st USING (doc_id)
    """,
)
def q67(spark, sf):
    """Cross-document repeated-passage statistics (Lee et al. 2021
    ExactSubstr's distributed gram-level approximation,
    operators/quality.py:repeated_passages): distinct word 4-grams per doc,
    the count appearing in >= 2 documents, and the shared fraction.  The
    doc-frequency join reuses the groupBy(gram) exchange."""
    from .operators.quality import repeated_passages

    return repeated_passages(_t(spark, sf, "documents"), n=4)


@q(
    "q68_chunk_documents",
    r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
      FROM documents),
    c AS (
      SELECT doc_id, ws,
             unnest(range(0, greatest(len(ws) - 1, 0) + 1, 48)) AS start
      FROM w WHERE len(ws) > 0)
    SELECT doc_id,
           CAST(start / 48 AS INT) AS chunk_id,
           CAST(len(ws[start + 1 : start + 64]) AS BIGINT) AS n_words,
           array_to_string(ws[start + 1 : start + 64], ' ') AS chunk
    FROM c
    """,
)
def q68(spark, sf):
    """Document chunking for tokenizer packing / RAG indexing
    (operators/curation.py): 64-word windows every 48 words (16 overlap).
    Row-local — sequence + slice + one posexplode, zero shuffles; the chunk
    stream inherits the corpus partitioning."""
    from .operators.curation import chunk_documents

    return chunk_documents(
        _t(spark, sf, "documents"), chunk_words=64, overlap=16
    )


@q(
    "q69_token_budget_mix",
    r"""
    WITH t AS (
      SELECT source, doc_id,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS rk
      FROM documents),
    c AS (
      SELECT source, doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY rk, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM t)
    SELECT source, doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens - n_tokens < 600
    """,
)
def q69(spark, sf):
    """Token-budget source mixing (operators/curation.py): per-source
    deterministic md5-rank order, take documents until 600 tokens (the
    published-mix-weights mechanism: N tokens of source A, M of B...).
    Exact path is one window scan per source; the 100 TB path prefilters to
    an estimated rank cutoff first (module docstring)."""
    from .operators.curation import token_budget_mix

    return token_budget_mix(_t(spark, sf, "documents"), budget_tokens=600)


@q(
    "q70_pii_scrub",
    r"""
    WITH p AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN
                    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                  WHEN doc_id % 11 = 0 THEN
                    text || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                         || '.5 call +1555' || CAST(doc_id % 10000 AS VARCHAR)
                  ELSE text END AS text
      FROM documents),
    s AS (
      SELECT doc_id, text,
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
      FROM p),
    s2 AS (
      SELECT doc_id, text, t1,
             regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t2
      FROM s)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(t2, '\+\d{7,}')) AS BIGINT) AS n_phones,
           regexp_replace(t2, '\+\d{7,}', '<PHONE>', 'g') AS scrubbed
    FROM s2
    """,
)
def q70(spark, sf):
    """PII redaction (operators/scrub.py): emails -> IPv4 -> plus-prefixed
    phones, typed placeholders + per-type counts; RE2-safe patterns run
    verbatim on both sides.  PII is PLANTED deterministically (doc_id % 7
    emails, % 11 ip+phone) by identical expressions in engine and oracle —
    the q63 convention."""
    from .operators.scrub import scrub_pii

    d = _t(spark, sf, "documents")
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.col("text"),
                F.lit(" from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".5 call +1555"),
                (F.col("doc_id") % 10000).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return scrub_pii(planted)


@q(
    "q71_nfc_normalize",
    r"""
    WITH p AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || ' cafe' || chr(769) || ' fin'
                  ELSE text END AS text
      FROM documents)
    SELECT doc_id,
           nfc_normalize(text) AS normalized,
           text <> nfc_normalize(text) AS changed,
           CAST(length(text) AS BIGINT) AS n_chars_before,
           CAST(length(nfc_normalize(text)) AS BIGINT) AS n_chars_after
    FROM p
    """,
)
def q71(spark, sf):
    """Unicode NFC normalization (operators/scrub.py): canonical-compose so
    tokenizers see one byte sequence per grapheme; Arrow-batched
    unicodedata UDF (the documented slow path — Spark SQL has no NFC
    built-in), row-local and shuffle-free.  Combining marks planted on
    doc_id % 5 by identical expressions (oracle: DuckDB nfc_normalize,
    same Unicode standard)."""
    from .operators.scrub import nfc_normalize

    d = _t(spark, sf, "documents")
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            # the literal is DECOMPOSED (e + U+0301), matching the oracle's
            # chr(769); NFC composes it
            F.concat(F.col("text"), F.lit(" café fin")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return nfc_normalize(planted)


_Q72_BOILER = (
    "subscribe to our newsletter for the latest updates and offers please "
    "accept all cookies before continuing to browse this site content "
    "provided by the partner network all rights reserved see terms privacy "
    "help contact pages"
)


@q(
    "q72_corpus_pipeline",
    rf"""
    WITH p AS (
      SELECT doc_id, source, lang,
             CASE WHEN doc_id % 13 = 0 THEN '{_Q72_BOILER}'
                  ELSE text END AS text
      FROM documents),
    d0 AS (SELECT * FROM p WHERE lang IN ('en', 'es')),
    dd AS (
      SELECT doc_id, source, text FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) AS rn
        FROM d0) WHERE rn = 1),
    w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\s+'),
                         x -> x <> '') AS ws
      FROM dd),
    base AS (
      SELECT doc_id, len(ws) AS n_words,
             len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha
      FROM w),
    g AS (
      SELECT doc_id, 2 AS n,
             unnest(list_transform(range(2, len(ws)+1),
                    i -> ws[i-1] || ' ' || ws[i])) AS gram
      FROM w
      UNION ALL
      SELECT doc_id, 3 AS n,
             unnest(list_transform(range(3, len(ws)+1),
                    i -> ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i])) AS gram
      FROM w),
    gc AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
    st AS (
      SELECT doc_id,
             max(CASE WHEN n = 2 THEN c END) AS max_bg,
             sum(CASE WHEN n = 2 THEN c END) AS tot_bg,
             sum(CASE WHEN n = 3 AND c > 1 THEN c ELSE 0 END) AS dup_tg,
             sum(CASE WHEN n = 3 THEN c END) AS tot_tg
      FROM gc GROUP BY 1),
    kept AS (
      SELECT dd.doc_id, dd.source
      FROM dd JOIN base USING (doc_id) LEFT JOIN st USING (doc_id)
      WHERE base.n_words >= 30 AND base.n_words <= 100000
        AND round(coalesce(st.max_bg * 1.0 / st.tot_bg, 0.0), 6) <= 0.06
        AND round(coalesce(st.dup_tg * 1.0 / st.tot_tg, 0.0), 6) <= 0.0
        AND round(base.n_alpha * 1.0 / greatest(base.n_words, 1), 6) >= 0.8
        AND dd.doc_id % 97 <> 0),
    bg4 AS (
      SELECT DISTINCT unnest(list_transform(range(4, len(ws)+1),
             i -> ws[i-3] || ' ' || ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i]))
             AS gram
      FROM (SELECT list_filter(regexp_split_to_array(trim(text), '\s+'),
                               x -> x <> '') AS ws
            FROM p WHERE doc_id % 97 = 0)),
    kg AS (
      SELECT w.doc_id,
             unnest(list_transform(range(4, len(ws)+1),
                    i -> ws[i-3] || ' ' || ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i]))
             AS gram
      FROM w JOIN kept USING (doc_id)),
    cont AS (SELECT DISTINCT kg.doc_id FROM kg JOIN bg4 USING (gram)),
    clean AS (
      SELECT kept.source, kept.doc_id FROM kept
      WHERE kept.doc_id NOT IN (SELECT doc_id FROM cont)),
    r AS (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM clean)
    SELECT source, doc_id, CAST(rk AS INTEGER) AS rk FROM r WHERE rk <= 12
    """,
)
def q72(spark, sf):
    """END-TO-END corpus construction as ONE composed Spark plan — the
    pipeline every pretraining corpus actually runs, chained from the
    already-verified operators: language filter → exact dedup (boilerplate
    planted on doc_id % 13, the q70 convention — the dup group collapses to
    its min-id canonical) → Gopher repetition gate → benchmark
    decontamination (doc_id % 97 eval slice, word 4-grams, broadcast) →
    stratified quota sample (12/source, two-stage prefilter plan).  The lang
    filter pushes to the scan, the gram explodes stay keyed by doc_id, and
    both small sides (eval grams, stratum counts) broadcast.  The deduped /
    gated / decontaminated frames are PERSISTED pipeline barriers — each
    stage's output is referenced by several downstream subplans (gopher
    reads its input twice, decontamination three times, the sampler's
    prefilter four), and without the cut Catalyst re-expands the whole
    upstream chain per reference (measured: ~90 parquet scans of the corpus
    in one plan).  In production each barrier is a written table (the
    snapshot catalog's job); lazy persist is the single-query equivalent
    (kept as persist(), not localCheckpoint: the barrier shape and the
    lang-filter pushdown are plan-pinned by test_plans, and a checkpoint
    would hide both from the inspectable plan).  The
    oracle replays every stage as CTEs."""
    from .operators.dedup import exact_dedup
    from .operators.quality import decontaminate, gopher_repetition
    from .operators.sampling import quota_sample

    d = _t(spark, sf, "documents")
    planted = d.select(
        "doc_id",
        "source",
        "lang",
        F.when(F.col("doc_id") % 13 == 0, F.lit(_Q72_BOILER))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    d0 = planted.filter(F.col("lang").isin("en", "es"))
    dd = exact_dedup(d0).persist()
    gate = gopher_repetition(
        dd,
        min_words=30,
        max_top_bigram_frac=0.06,
        max_dup_trigram_frac=0.0,
        min_alpha_word_frac=0.8,
    )
    kept = (
        dd.join(gate.filter(F.col("keep")).select("doc_id"), "doc_id")
        .filter(F.col("doc_id") % 97 != 0)
        .persist()
    )
    bench = planted.filter(F.col("doc_id") % 97 == 0)
    dec = decontaminate(kept, bench, n=4)
    clean = kept.join(
        dec.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
    ).persist()
    return quota_sample(clean, "source", 12, "doc_id", prefilter_factor=4.0)


@q(
    "q73_pack_sequences",
    r"""
    WITH RECURSIVE t AS (
      SELECT source AS shard, doc_id,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY doc_id) AS BIGINT) AS rn
      FROM documents),
    p AS (
      SELECT shard, doc_id, n_tokens, rn,
             0 AS pack_id, n_tokens AS pack_fill
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.shard, t.doc_id, t.n_tokens, t.rn,
             CASE WHEN p.pack_fill + t.n_tokens > 128
                  THEN p.pack_id + 1 ELSE p.pack_id END,
             CASE WHEN p.pack_fill + t.n_tokens > 128
                  THEN t.n_tokens ELSE p.pack_fill + t.n_tokens END
      FROM p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1)
    SELECT shard, doc_id, n_tokens,
           CAST(pack_id AS INTEGER) AS pack_id,
           CAST(pack_fill AS BIGINT) AS pack_fill
    FROM p
    """,
)
def q73(spark, sf):
    """Sequence packing (operators/curation.py): greedy contiguous fill of
    128-token training contexts per source shard, doc_id order.  The
    sequential fold is the operator's semantics — the parallel unit is the
    shard, and only (doc_id, n_tokens) crosses into Python (16 B/row Arrow
    batches; token counting stays JVM-side).  The oracle replays the exact
    fold as a DuckDB recursive CTE (one recursion level per in-shard row)."""
    from .operators.curation import pack_sequences

    return pack_sequences(_t(spark, sf, "documents"), capacity=128)


@q(
    "q74_warc_ingest",
    r"""
    SELECT doc_id,
           '<urn:uuid:' || substr(
               sha256('https://doc.test/' || CAST(doc_id AS VARCHAR)
                      || chr(0) || '2020-01-01T00:00:00Z'), 1, 32) || '>'
             AS record_id,
           'https://doc.test/' || CAST(doc_id AS VARCHAR) AS url,
           CAST(200 AS INTEGER) AS http_status,
           'text/html' AS mime,
           CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes
    FROM documents
    """,
)
def q74(spark, sf):
    """WARC container roundtrip (sources/warc.py): every document is
    serialized as a WARC response record and re-parsed by the same
    reader that ingests CommonCrawl segments; the oracle recomputes the
    record id (sha256 of uri+NUL+date), status, mime, and payload byte
    length from the generative formula WITHOUT touching the container —
    the q57-q59 convention, so a build/parse bug cannot cancel out.  The
    file-granularity path (binaryFile scan, member-per-record gzip,
    truncation guards) is pinned by tests/test_warc_source.py."""
    import pandas as pd

    from .sources.warc import build_record, parse_warc_stream

    d = _t(spark, sf, "documents").select("doc_id", "text")

    def roundtrip(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                url = f"https://doc.test/{doc_id}"
                rec = build_record(url, str(text).encode())
                (row,) = parse_warc_stream(rec)
                out.append(
                    {
                        "doc_id": int(doc_id),
                        "record_id": row["record_id"],
                        "url": row["url"],
                        "http_status": row["http_status"],
                        "mime": row["mime"],
                        "payload_bytes": len(row["payload"]),
                    }
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "record_id",
                    "url",
                    "http_status",
                    "mime",
                    "payload_bytes",
                ],
            )

    return d.mapInPandas(
        roundtrip,
        "doc_id long, record_id string, url string, http_status int, "
        "mime string, payload_bytes long",
    )


_Q75_F1 = "subscribe to the newsletter footer"
_Q75_F2 = "all rights reserved footer"


@q(
    "q75_line_dedup",
    rf"""
    WITH p AS (
      SELECT doc_id, text || chr(10) || '{_Q75_F1}' ||
             CASE WHEN doc_id % 4 = 0 THEN chr(10) || '{_Q75_F2}'
                  ELSE '' END AS text
      FROM documents),
    s AS (SELECT doc_id, str_split(text, chr(10)) AS ls FROM p),
    lf AS (
      SELECT doc_id, st.pos AS pos, st.line AS line FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(ls)+1),
               i -> {{'pos': i-1, 'line': ls[i]}})) AS st
        FROM s)),
    k AS (
      SELECT doc_id, pos, line,
             row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
      FROM lf),
    agg AS (
      SELECT doc_id,
             count(*) FILTER (WHERE rn = 1) AS kept_lines,
             string_agg(line, chr(10) ORDER BY pos)
               FILTER (WHERE rn = 1) AS new_text
      FROM k GROUP BY doc_id),
    base AS (SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines FROM s)
    SELECT b.doc_id, b.n_lines,
           CAST(coalesce(a.kept_lines, 0) AS BIGINT) AS kept_lines,
           coalesce(a.new_text, '') AS new_text
    FROM base b LEFT JOIN agg a USING (doc_id)
    """,
)
def q75(spark, sf):
    """C4-style cross-corpus line dedup (operators/dedup.py line_dedup):
    boilerplate footers planted on every doc (+ a second on doc_id % 4)
    survive only at their first (min doc_id, min pos) occurrence; documents
    are reassembled from surviving lines in order.  One explode + one
    line-keyed window + one doc-keyed reassembly — the oracle replays the
    same first-occurrence rule as a window over exploded lines."""
    from .operators.dedup import line_dedup

    d = _t(spark, sf, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\n" + _Q75_F1),
            F.when(F.col("doc_id") % 4 == 0, F.lit("\n" + _Q75_F2)).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return line_dedup(planted)


# q76: merge table learned by fit_bpe(documents@sf0.01, n_merges=8) — a
# PRETRAINED tokenizer applied at any sf.  tests/test_bpe.py pins this
# constant to the fit (the ADVICE-r3 one-derivation rule), and the oracle
# below is GENERATED from it.
_Q76_MERGES = [
    ("e", "r"),
    ("e", "▁"),
    ("n", "▁"),
    ("er", "▁"),
    ("o", "w"),
    ("ow", "▁"),
    ("o", "r"),
    ("s", "t"),
]


def _make_q76_sql() -> str:
    """BPE encode as SQL: a word becomes a chr(31)-delimited symbol string
    (leading/trailing delimiters anchor symbol boundaries), and each merge
    in rank order is one left-to-right non-overlapping ``replace`` — for a
    FIXED merge list this is exactly the rank-priority encode loop, because
    a merge never creates a new occurrence of itself or of any
    earlier-ranked pair (merged symbols are longer than either side)."""
    s = "chr(31) || regexp_replace(word, '(.)', '\\1' || chr(31), 'g') || '▁' || chr(31)"
    for a, b in _Q76_MERGES:
        pat = f"chr(31) || '{a}' || chr(31) || '{b}' || chr(31)"
        rep = f"chr(31) || '{a}{b}' || chr(31)"
        s = f"replace({s}, {pat}, {rep})"
    return rf"""
    WITH w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\s+'),
                         x -> x <> '') AS ws
      FROM documents),
    x AS (
      SELECT doc_id, st.pos AS pos, st.word AS word FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(ws)+1),
               i -> {{'pos': i, 'word': ws[i]}})) AS st
        FROM w)),
    enc AS (
      SELECT doc_id, pos,
             list_filter(str_split({s}, chr(31)), t -> t <> '') AS toks
      FROM x),
    agg AS (
      SELECT doc_id,
             CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
             string_agg(array_to_string(toks, ' '), ' ' ORDER BY pos)
               AS tokens_str
      FROM enc GROUP BY doc_id)
    SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_words,
           CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           coalesce(a.tokens_str, '') AS tokens_str
    FROM w LEFT JOIN agg a USING (doc_id)
    """


@q("q76_bpe_tokenize", _make_q76_sql())
def q76(spark, sf):
    """BPE tokenization with a pretrained merge table (functions/bpe.py):
    the fit collapsed the corpus to its word-count table and learned 8
    merges as vocab-sized aggregates (distributed-fit convention); encode
    is the Arrow-batched rank-priority loop with per-batch word memoization.
    The oracle replays the merge list as a chain of anchored string
    replaces — exact because a fixed-rank merge never re-creates itself."""
    from .functions.bpe import bpe_encode

    d = _t(spark, sf, "documents")
    enc = bpe_encode(d, _Q76_MERGES)
    return enc.select(
        "doc_id",
        "n_words",
        "n_tokens",
        F.array_join("tokens", " ").alias("tokens_str"),
    )


@q(
    "q77_ccnet_buckets",
    r"""
    WITH w AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
      FROM documents),
    bg AS (
      SELECT doc_id, source,
             unnest(list_transform(range(2, len(ws)+1), i -> ws[i-1] || ' ' || ws[i])) AS bg
      FROM w),
    tb AS (SELECT bg, count(*) AS c2 FROM bg WHERE source = 'src0' GROUP BY 1),
    tc AS (SELECT split_part(bg, ' ', 1) AS ctx, count(*) AS c1
           FROM bg WHERE source = 'src0' GROUP BY 1),
    vv AS (SELECT count(DISTINCT x) + 1 AS v
           FROM (SELECT unnest(ws) AS x FROM w WHERE source = 'src0')),
    sc AS (
      SELECT b.doc_id,
             round(avg(-ln((coalesce(tb.c2, 0) + 1) * 1.0
                           / (coalesce(tc.c1, 0) + vv.v))), 6) AS avg_nll
      FROM bg b
      LEFT JOIN tb USING (bg)
      LEFT JOIN tc ON split_part(b.bg, ' ', 1) = tc.ctx
      CROSS JOIN vv
      GROUP BY 1)
    SELECT d.source, d.doc_id, sc.avg_nll,
           CAST(ntile(3) OVER (PARTITION BY d.source
                               ORDER BY sc.avg_nll, d.doc_id) AS INTEGER)
             AS bucket
    FROM documents d JOIN sc USING (doc_id)
    """,
)
def q77(spark, sf):
    """CCNet head/middle/tail perplexity buckets (Wenzek et al. 2019 §4.3):
    every document scored by the src0-fitted bigram LM (q64's distributed
    fit), then ntile(3) per source on avg NLL — bucket 1 is the cleanest
    third that CCNet keeps preferentially.  One window per source over the
    already-aggregated per-doc scores; the LM weights ride as broadcasts."""
    from .operators.lm import bigram_lm_fit, bigram_lm_score

    d = _t(spark, sf, "documents")
    c2, c1, v = bigram_lm_fit(d.filter(F.col("source") == "src0"))
    scored = bigram_lm_score(d, c2, c1, v).filter(F.col("avg_nll").isNotNull())
    w = Window.partitionBy("source").orderBy(F.asc("avg_nll"), F.asc("doc_id"))
    return (
        d.select("doc_id", "source")
        .join(scored.select("doc_id", "avg_nll"), "doc_id")
        .select(
            "source",
            "doc_id",
            "avg_nll",
            F.ntile(3).over(w).alias("bucket"),
        )
    )


@q(
    "q78_recrawl_priority",
    """
    WITH o AS (
      SELECT user_id, epoch_us(ts) AS ts_us, value,
             lag(value) OVER (PARTITION BY user_id
                              ORDER BY epoch_us(ts), event_id) AS pv
      FROM events),
    a AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_obs,
             CAST(sum(CASE WHEN pv IS NOT NULL AND value <> pv
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
             max(ts_us) AS last_us
      FROM o GROUP BY 1),
    n AS (SELECT max(epoch_us(ts)) AS now_us FROM events)
    SELECT user_id, n_obs, n_changes,
           round(n_changes * 1.0 / greatest(n_obs - 1, 1), 6) AS change_rate,
           round((now_us - last_us) / 86400000000.0, 6) AS age_days,
           round((n_changes * 1.0 / greatest(n_obs - 1, 1))
                 * ((now_us - last_us) / 86400000000.0), 6) AS priority
    FROM a CROSS JOIN n
    """,
)
def q78(spark, sf):
    """Freshness-driven re-crawl scheduling (operators/recrawl.py): each
    page's change rate estimated from its observation history (value flips
    between consecutive events = content fingerprint changed), priority =
    change_rate x staleness age — the Cho–Garcia-Molina refresh ordering.
    Extends the reference's domain-recency tracking (crawler.py domain
    stats) to per-page change modeling.  One shuffle: the lag window and
    the per-entity aggregate share the user_id key; corpus "now" rides the
    plan as a broadcast 1-row aggregate."""
    from .operators.recrawl import change_rate_priority

    return change_rate_priority(_t(spark, sf, "events"))


_Q79_BANNER = "accept cookies to continue"
_Q79_PROMO = "limited offer"


@q(
    "q79_source_boilerplate",
    rf"""
    WITH p AS (
      SELECT doc_id, source,
             text || chr(10) || source || ' {_Q79_BANNER}' ||
             CASE WHEN doc_id % 5 = 0
                  THEN chr(10) || '{_Q79_PROMO} ' || CAST(doc_id % 7 AS VARCHAR)
                  ELSE '' END AS text
      FROM documents),
    s AS (SELECT doc_id, source, str_split(text, chr(10)) AS ls FROM p),
    lf AS (
      SELECT doc_id, source, st.pos AS pos, st.line AS line FROM (
        SELECT doc_id, source, unnest(list_transform(range(1, len(ls)+1),
               i -> {{'pos': i-1, 'line': ls[i]}})) AS st
        FROM s)),
    tot AS (SELECT source, count(*) AS ndocs FROM p GROUP BY 1),
    fl AS (
      SELECT l.source, l.line
      FROM (SELECT DISTINCT source, line, doc_id FROM lf) l
      JOIN tot USING (source)
      GROUP BY l.source, l.line, tot.ndocs
      HAVING count(*) >= greatest(0.5 * tot.ndocs, 2)),
    kept AS (
      SELECT lf.* FROM lf
      LEFT JOIN fl ON lf.source = fl.source AND lf.line = fl.line
      WHERE fl.line IS NULL),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_lines,
             string_agg(line, chr(10) ORDER BY pos) AS new_text
      FROM kept GROUP BY 1),
    base AS (SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines FROM s)
    SELECT b.doc_id, b.n_lines,
           CAST(coalesce(a.kept_lines, 0) AS BIGINT) AS kept_lines,
           coalesce(a.new_text, '') AS new_text
    FROM base b LEFT JOIN agg a USING (doc_id)
    """,
)
def q79(spark, sf):
    """Site-template boilerplate removal (dedup.boilerplate_strip): a line
    occurring in >= 50% of a source's documents is template chrome and is
    removed from every document of that source; rare repeats survive
    (unlike q75's corpus-wide first-occurrence rule).  Planted: a per-source
    cookie banner on every doc (removed) and a promo line on doc_id % 5
    (~3% in-source doc frequency — kept).  The flagged-template set is
    frequency-bounded, so the removal join broadcasts the flags and the
    corpus stream shuffles only for the per-doc reassembly."""
    from .operators.dedup import boilerplate_strip

    d = _t(spark, sf, "documents")
    planted = d.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.lit("\n"),
            F.col("source"),
            F.lit(" " + _Q79_BANNER),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit("\n" + _Q79_PROMO + " "),
                    (F.col("doc_id") % 7).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return boilerplate_strip(planted, group_col="source", min_frac=0.5)


@q(
    "q80_source_lang_mix",
    r"""
    WITH c AS (
      SELECT doc_id, source, lang,
        len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it|for|with)\b'))   AS c_en,
        len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|mit|ein|ich|zu)\b')) AS c_de,
        len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|pas|pour|que|une|des)\b'))    AS c_fr,
        len(regexp_extract_all(lower(text), '\b(el|la|los|que|de|es|por|con|una|para)\b'))     AS c_es,
        len(regexp_extract_all(lower(text), '\b(il|la|che|di|e|per|un|con|del|sono)\b'))       AS c_it
      FROM documents),
    det AS (
      SELECT doc_id, source, lang,
             CASE WHEN c_en = 0 AND c_de = 0 AND c_fr = 0 AND c_es = 0 AND c_it = 0 THEN 'und'
                  WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es AND c_en >= c_it THEN 'en'
                  WHEN c_de > c_en AND c_de >= c_fr AND c_de >= c_es AND c_de >= c_it THEN 'de'
                  WHEN c_fr > c_en AND c_fr > c_de AND c_fr >= c_es AND c_fr >= c_it THEN 'fr'
                  WHEN c_es > c_en AND c_es > c_de AND c_es > c_fr AND c_es >= c_it THEN 'es'
                  ELSE 'it' END AS lang_guess
      FROM c),
    g AS (
      SELECT source, lang_guess, count(*) AS cnt,
             sum(CASE WHEN lang_guess <> lang THEN 1 ELSE 0 END) AS mism
      FROM det GROUP BY 1, 2),
    g2 AS (SELECT *, sum(cnt) OVER (PARTITION BY source) AS tot FROM g),
    agg AS (
      SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_langs,
             CAST(sum(mism) AS BIGINT) AS mismatches,
             round(-sum((cnt * 1.0 / tot) * ln(cnt * 1.0 / tot)) + 0.0, 6) AS lang_entropy
      FROM g2 GROUP BY 1),
    dom AS (
      SELECT source, lang_guess AS dominant_lang, cnt,
             row_number() OVER (PARTITION BY source
                                ORDER BY cnt DESC, lang_guess) AS rn
      FROM g)
    SELECT a.source, a.n_docs, a.n_langs, d.dominant_lang,
           round(d.cnt * 1.0 / a.n_docs, 6) AS dominant_frac,
           round(a.mismatches * 1.0 / a.n_docs, 6) AS mismatch_frac,
           a.lang_entropy
    FROM agg a JOIN dom d ON a.source = d.source AND d.rn = 1
    """,
)
def q80(spark, sf):
    """Per-source language-consistency audit (RefinedWeb-style domain
    screening): detected-language histogram per source (detector =
    functions/textstats.lang_id_col, the q19 stopword-marker argmax), its
    Shannon entropy, the dominant detected language and its share, and the
    declared-vs-detected mismatch rate.  Sources whose entropy or mismatch
    rate spikes are mixed-language or mislabeled and get routed to review.
    Aggregation runs on (source, lang_guess) — thousands of rows at web
    scale — so every post-detection stage is broadcast-light."""
    from .functions.textstats import lang_id_col

    d = _t(spark, sf, "documents")
    det = d.select(
        "source",
        "lang",
        lang_id_col("text").alias("lang_guess"),
    )
    g = det.groupBy("source", "lang_guess").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(
            F.when(F.col("lang_guess") != F.col("lang"), 1).otherwise(0)
        ).alias("mism"),
    )
    # SINGLE pass over the grouped rows: the round-5 shape consumed ``g``
    # from two branches (entropy aggregate + dominant-language ranking) and
    # re-ran the whole 5-regex language detection for each (measured: two
    # full document scans in one plan).  Both windows share the ``source``
    # partitioning (one exchange), and the final groupBy(source) reuses it;
    # the dominant language rides the aggregate as a conditional max on the
    # rn=1 row — no join, detection runs once.
    wdom = Window.partitionBy("source").orderBy(
        F.desc("cnt"), F.asc("lang_guess")
    )
    g2 = g.withColumn(
        "tot", F.sum("cnt").over(Window.partitionBy("source"))
    ).withColumn("rn", F.row_number().over(wdom))
    p = F.col("cnt") / F.col("tot")
    agg = g2.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.sum("mism").cast("long").alias("mismatches"),
        # + 0.0 collapses IEEE -0.0 (single-language source) to +0.0 on
        # both engine and oracle sides
        F.round(-F.sum(p * F.log(p)) + F.lit(0.0), 6).alias("lang_entropy"),
        F.max(F.when(F.col("rn") == 1, F.col("lang_guess"))).alias(
            "dominant_lang"
        ),
        F.max(F.when(F.col("rn") == 1, F.col("cnt"))).alias("_domcnt"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_langs",
        "dominant_lang",
        F.round(F.col("_domcnt") / F.col("n_docs"), 6).alias("dominant_frac"),
        F.round(F.col("mismatches") / F.col("n_docs"), 6).alias("mismatch_frac"),
        "lang_entropy",
    )


@q(
    "q81_importance_sample",
    r"""
    WITH w AS (
      SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_words
      FROM documents),
    p AS (
      SELECT doc_id, n_words,
             least(1.0, greatest(0.05, n_words / 150.0)) AS p,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS UBIGINT) / 4294967295.0 AS u
      FROM w)
    SELECT doc_id, n_words,
           round(1.0 / p, 6) AS weight,
           round(p, 6) AS p_keep,
           round(u, 6) AS u_draw
    FROM p WHERE u < p
    """,
)
def q81(spark, sf):
    """Quality-weighted importance sampling (sampling.importance_sample —
    the CCNet/GPT-3 corpus-construction move: keep each document with
    probability proportional to a quality proxy, here a length score
    least(1, max(0.05, n_words/150)), under a DETERMINISTIC md5-uniform
    draw; survivors carry the Horvitz–Thompson 1/p weight so downstream
    token statistics stay unbiased).  Pure map-side: the filter sits on the
    scan, no shuffle, reruns reproduce the same training set exactly."""
    from .operators.sampling import importance_sample

    d = _t(spark, sf, "documents")
    words = d.select(
        "doc_id",
        F.size(
            F.filter(
                F.split(F.trim(F.col("text")), r"\s+"),
                lambda x: x != "",
            )
        )
        .cast("long")
        .alias("n_words"),
    )
    p = F.least(
        F.lit(1.0), F.greatest(F.lit(0.05), F.col("n_words") / F.lit(150.0))
    )
    return importance_sample(words, p, "doc_id").select(
        "doc_id", "n_words", "weight", "p_keep", "u_draw"
    )


_Q82_PASSAGE = "breaking news wire syndicated content repeats across outlets"


@q(
    "q82_passage_scrub",
    rf"""
    WITH p AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 3 = 0
                          THEN ' {_Q82_PASSAGE}' ELSE '' END AS text
      FROM documents),
    w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\s+'),
                         x -> x <> '') AS ws
      FROM p),
    tok AS (
      SELECT doc_id, st.pos AS pos, st.word AS word FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(ws)+1),
               i -> {{'pos': i-1, 'word': ws[i]}})) AS st
        FROM w)),
    gp AS (
      SELECT doc_id, st.s AS s, st.gram AS gram FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(ws)-2),
               i -> {{'s': i-1, 'gram': array_to_string(ws[i:i+3], ' ')}})) AS st
        FROM w WHERE len(ws) >= 4)),
    hot AS (
      SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM gp)
      GROUP BY gram HAVING count(*) >= 5),
    cov AS (
      SELECT DISTINCT doc_id, pos FROM (
        SELECT gp.doc_id, unnest(range(gp.s, gp.s + 4)) AS pos
        FROM gp JOIN hot USING (gram))),
    kept AS (
      SELECT tok.* FROM tok
      LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
      WHERE cov.pos IS NULL),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_n,
             string_agg(word, ' ' ORDER BY pos) AS new_text
      FROM kept GROUP BY 1),
    base AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens FROM w)
    SELECT b.doc_id, b.n_tokens,
           CAST(b.n_tokens - coalesce(a.kept_n, 0) AS BIGINT) AS n_removed,
           coalesce(a.new_text, '') AS new_text
    FROM base b LEFT JOIN agg a USING (doc_id)
    """,
)
def q82(spark, sf):
    """Repeated-passage scrubbing (quality.passage_scrub) — the REMOVAL step
    of Lee et al. 2021's ExactSubstr dedup in its gram-level distributed
    form: tokens covered by any word 4-gram occurring in >= 5 distinct
    documents are cut everywhere, completing q67's statistics with the
    operator that edits the corpus.  Planted: a syndicated-wire passage
    appended to doc_id % 3 (corpus-wide df far above 5 — scrubbed to
    nothing), while doc-unique boundary grams survive.  Gram doc-frequency
    rides the q67 shuffle family; coverage expands only hot positions."""
    from .operators.quality import passage_scrub

    d = _t(spark, sf, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit(" " + _Q82_PASSAGE)
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return passage_scrub(planted, n=4, min_df=5)


# =============================================================================
# Real PNG decode (round 5, VERDICT r4 #4): zlib-inflate + per-scanline
# unfilter, pure stdlib.  Same oracle discipline as q57: Spark inflates and
# unfilters the ACTUAL PNG payloads (decode_png inside the mapInPandas UDF;
# every image uses scanline filter media_id % 5, so all five unfilter paths
# run); the oracle recomputes the features from synth_pixels' generative
# FORMULA in SQL without ever touching a PNG byte — a codec bug cannot
# cancel out.  Integer-exact projection: w·h ≤ 126 px, channel sums < 2^24.
# =============================================================================
@q(
    "q83_png_decode_features",
    """
    WITH m AS (
      SELECT CAST(i AS BIGINT) AS media_id,
             CAST(8 + i % 7 AS BIGINT) AS w,
             CAST(6 + i % 4 AS BIGINT) AS h
      FROM range(0, 50) t(i)),
    px AS (
      SELECT media_id, w, h,
             (x * 31 + media_id * 7) % 256 AS r,
             (y * 53 + media_id * 13) % 256 AS g,
             (x * y + media_id) % 256 AS b
      FROM m, unnest(range(0, h)) ty(y), unnest(range(0, w)) tx(x)),
    sums AS (
      SELECT media_id, w, h,
             CAST(sum(r) AS BIGINT) AS sum_r,
             CAST(sum(g) AS BIGINT) AS sum_g,
             CAST(sum(b) AS BIGINT) AS sum_b
      FROM px GROUP BY media_id, w, h),
    bins AS (
      SELECT media_id, (299 * r + 587 * g + 114 * b) * 11 // 255001 AS bin,
             count(*) AS cnt
      FROM px GROUP BY media_id, bin),
    grid AS (
      SELECT m.media_id, CAST(kk AS BIGINT) AS bin
      FROM m, unnest(range(0, 11)) t2(kk)),
    hist AS (
      SELECT grid.media_id,
             array_to_string(
               list(CAST(coalesce(bins.cnt, 0) AS INT) ORDER BY grid.bin),
               ',') AS hist11
      FROM grid LEFT JOIN bins
        ON grid.media_id = bins.media_id AND grid.bin = bins.bin
      GROUP BY grid.media_id)
    SELECT s.media_id, CAST(s.w AS INT) AS w, CAST(s.h AS INT) AS h,
           s.sum_r, s.sum_g, s.sum_b, hist.hist11,
           TRUE AS decoded
    FROM sums s JOIN hist ON s.media_id = hist.media_id
    """,
)
def q83(spark, sf):
    """Multimodal REAL PNG decode (operators/multimodal.decode_png): the
    mapInPandas UDF CRC-checks the chunk walk, zlib-inflates the IDAT
    stream and unfilters every scanline (filter media_id % 5 covers
    None/Sub/Up/Average/Paeth), then computes features from actual pixels.
    The ``decoded`` audit column must be TRUE on every row — a silent
    fallback to the byte-histogram stub would flip it false and fail the
    oracle, so the flag is itself under test."""
    from .operators.multimodal import extract_features, synth_media_png

    media = synth_media_png(spark, n=50)
    feats = extract_features(media, decode="real")
    f = F.col("feature")
    w = F.round(f[0]).cast("int")
    h = F.round(f[1]).cast("int")
    npx = (w * h).cast("long")
    hist11 = F.array_join(
        F.transform(
            F.slice(f, 6, 11),
            lambda x: F.round(x * npx).cast("int").cast("string"),
        ),
        ",",
    )
    return feats.select(
        "media_id",
        w.alias("w"),
        h.alias("h"),
        F.round(f[2] * npx).cast("long").alias("sum_r"),
        F.round(f[3] * npx).cast("long").alias("sum_g"),
        F.round(f[4] * npx).cast("long").alias("sum_b"),
        hist11.alias("hist11"),
        "decoded",
    )


# =============================================================================
# Round-5 scheduler wiring (VERDICT r4 #2): the trap-template guard as an
# oracle-checked scheduling query.  The synthetic frontier is derived from
# documents by identical expressions on both sides: 7 hosts; even doc_ids
# form per-host /cal/<N> calendar-trap cells (all collapse to ONE template
# '/cal/N'), odd doc_ids get letter-distinct paths (distinct templates).
# Engine side: the REAL scheduler (schedule_batch) with trap_threshold/cap —
# the same eligible() path plans/round.py runs; oracle: the cell census, cap
# rank, host budget rank and global cut replayed as SQL windows.
# =============================================================================
@q(
    "q84_trap_capped_schedule",
    """
    WITH f AS (
      SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
             'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' ||
             CASE WHEN doc_id % 2 = 0 THEN '/cal/' || CAST(doc_id AS VARCHAR)
                  ELSE '/' || chr(97 + CAST(doc_id % 26 AS INT))
                           || chr(97 + CAST((doc_id // 26) % 26 AS INT))
                           || chr(97 + CAST((doc_id // 676) % 26 AS INT))
             END AS url,
             CAST(doc_id * 37 % 1000 AS DOUBLE) / 10.0 AS score,
             doc_id AS seq
      FROM documents),
    t AS (
      SELECT *, regexp_replace(regexp_replace(
               regexp_replace(url, '^https?://[^/]*', ''),
               '[0-9a-f]{8,}', 'H', 'g'), '[0-9]+', 'N', 'g') AS tmpl
      FROM f),
    cc AS (
      SELECT host, tmpl, count(*) AS cn FROM t GROUP BY host, tmpl),
    capped AS (
      SELECT t.host, t.url, t.score, t.seq,
             CASE WHEN cc.cn > 20 THEN
               row_number() OVER (PARTITION BY t.host, t.tmpl
                                  ORDER BY t.score DESC, t.url ASC)
             ELSE 1 END AS cell_rn
      FROM t JOIN cc ON t.host = cc.host AND t.tmpl = cc.tmpl),
    eligible AS (
      SELECT host, url, score, seq,
             row_number() OVER (PARTITION BY host
                                ORDER BY score DESC, url ASC) AS host_rn
      FROM capped WHERE cell_rn <= 3)
    SELECT host, url, round(score, 6) AS score
    FROM eligible WHERE host_rn <= 5
    ORDER BY score DESC, url ASC LIMIT 30
    """,
)
def q84(spark, sf):
    """Trap-capped scheduling (operators/politeness.trap_template_cap via
    the lazy schedule_batch — the same cap/census/window operators
    plans/round.py wires in through schedule_batch_counted, minus the
    count jobs that entry point adds for the crawl loop's bookkeeping;
    identical row set, one job at the sink):
    calendar-trap cells above the threshold admit their top-3 per round
    while letter-path URLs pass through; then the per-host politeness
    budget and the global cut.  The oracle replays the cell census + cap
    rank + budget rank as SQL windows."""
    from .operators.politeness import schedule_batch

    d = _t(spark, sf, "documents").select("doc_id")
    host = F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"),
                    F.lit(".example.com"))
    letters = F.concat(
        F.lit("/"),
        F.char(F.lit(97) + (F.col("doc_id") % 26).cast("int")),
        F.char(F.lit(97) + ((F.col("doc_id") / 26).cast("long") % 26).cast("int")),
        F.char(F.lit(97) + ((F.col("doc_id") / 676).cast("long") % 26).cast("int")),
    )
    path = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("/cal/"), F.col("doc_id").cast("string")),
    ).otherwise(letters)
    frontier = d.select(
        host.alias("host"),
        F.concat(F.lit("https://"), host, path).alias("url"),
        ((F.col("doc_id") * 37 % 1000) / 10.0).alias("score"),
        F.col("doc_id").alias("seq"),
    )
    sched = schedule_batch(
        frontier, budget=5, batch_size=30, salt_buckets=4,
        trap_threshold=20, trap_cap=3,
    )
    return sched.select("host", "url", F.round("score", 6).alias("score"))


@q(
    "q86_gif_decode_features",
    """
    WITH m AS (
      SELECT CAST(i AS BIGINT) AS media_id,
             CAST(8 + i % 6 AS BIGINT) AS w,
             CAST(6 + i % 5 AS BIGINT) AS h
      FROM range(0, 40) t(i)),
    px AS (
      SELECT media_id, w, h,
             (x * 31 + media_id * 7) % 256 AS r,
             (y * 53 + media_id * 13) % 256 AS g,
             (x * y + media_id) % 256 AS b
      FROM m, unnest(range(0, h)) ty(y), unnest(range(0, w)) tx(x)),
    sums AS (
      SELECT media_id, w, h,
             CAST(sum(r) AS BIGINT) AS sum_r,
             CAST(sum(g) AS BIGINT) AS sum_g,
             CAST(sum(b) AS BIGINT) AS sum_b
      FROM px GROUP BY media_id, w, h),
    bins AS (
      SELECT media_id, (299 * r + 587 * g + 114 * b) * 11 // 255001 AS bin,
             count(*) AS cnt
      FROM px GROUP BY media_id, bin),
    grid AS (
      SELECT m.media_id, CAST(kk AS BIGINT) AS bin
      FROM m, unnest(range(0, 11)) t2(kk)),
    hist AS (
      SELECT grid.media_id,
             array_to_string(
               list(CAST(coalesce(bins.cnt, 0) AS INT) ORDER BY grid.bin),
               ',') AS hist11
      FROM grid LEFT JOIN bins
        ON grid.media_id = bins.media_id AND grid.bin = bins.bin
      GROUP BY grid.media_id)
    SELECT s.media_id, CAST(s.w AS INT) AS w, CAST(s.h AS INT) AS h,
           s.sum_r, s.sum_g, s.sum_b, hist.hist11,
           TRUE AS decoded
    FROM sums s JOIN hist ON s.media_id = hist.media_id
    """,
)
def q86(spark, sf):
    """Multimodal REAL GIF decode (operators/multimodal.decode_gif):
    variable-width LSB-first LZW with clear/EOI handling plus the palette
    lookup, all inside the Arrow-batched mapInPandas UDF; the oracle
    recomputes features from synth_pixels' formula without touching a GIF
    byte (q83's discipline), and the ``decoded`` audit flag must be TRUE
    on every row."""
    from .operators.multimodal import extract_features, synth_media_gif

    media = synth_media_gif(spark, n=40)
    feats = extract_features(media, decode="real")
    f = F.col("feature")
    w = F.round(f[0]).cast("int")
    h = F.round(f[1]).cast("int")
    npx = (w * h).cast("long")
    hist11 = F.array_join(
        F.transform(
            F.slice(f, 6, 11),
            lambda x: F.round(x * npx).cast("int").cast("string"),
        ),
        ",",
    )
    return feats.select(
        "media_id",
        w.alias("w"),
        h.alias("h"),
        F.round(f[2] * npx).cast("long").alias("sum_r"),
        F.round(f[3] * npx).cast("long").alias("sum_g"),
        F.round(f[4] * npx).cast("long").alias("sum_b"),
        hist11.alias("hist11"),
        "decoded",
    )


@q(
    "q87_jpeg_decode_features",
    """
    WITH m AS (
      SELECT CAST(i AS BIGINT) AS media_id,
             CAST(2 + i % 3 AS BIGINT) AS tw,
             CAST(1 + i % 2 AS BIGINT) AS th
      FROM range(0, 40) t(i)),
    tiles AS (
      SELECT media_id, tw, th,
             (tx * 31 + ty * 53 + media_id * 7) % 256 AS v
      FROM m, unnest(range(0, th)) a(ty), unnest(range(0, tw)) b(tx)),
    sums AS (
      SELECT media_id, CAST(8 * tw AS INT) AS w, CAST(8 * th AS INT) AS h,
             CAST(64 * sum(v) AS BIGINT) AS sum_r,
             CAST(64 * sum(v) AS BIGINT) AS sum_g,
             CAST(64 * sum(v) AS BIGINT) AS sum_b
      FROM tiles GROUP BY media_id, tw, th),
    bins AS (
      SELECT media_id, (1000 * v) * 11 // 255001 AS bin,
             64 * count(*) AS cnt
      FROM tiles GROUP BY media_id, bin),
    grid AS (
      SELECT m.media_id, CAST(kk AS BIGINT) AS bin
      FROM m, unnest(range(0, 11)) t2(kk)),
    hist AS (
      SELECT grid.media_id,
             array_to_string(
               list(CAST(coalesce(bins.cnt, 0) AS INT) ORDER BY grid.bin),
               ',') AS hist11
      FROM grid LEFT JOIN bins
        ON grid.media_id = bins.media_id AND grid.bin = bins.bin
      GROUP BY grid.media_id)
    SELECT s.media_id, s.w, s.h, s.sum_r, s.sum_g, s.sum_b, hist.hist11,
           TRUE AS decoded
    FROM sums s JOIN hist ON s.media_id = hist.media_id
    """,
)
def q87(spark, sf):
    """Multimodal REAL baseline-JPEG decode (operators/jpeg.decode_jpeg):
    marker walk, Annex-K canonical Huffman entropy decode with byte
    unstuffing and RSTn restart resync (interval media_id % 4), dequantize
    + batched IDCT — all inside the Arrow-batched mapInPandas UDF.  The
    fixture is quality-100 grayscale block-constant tiles, which baseline
    JPEG stores LOSSLESSLY (DC-only blocks, all-ones quant tables), so
    features are pixel-exact and the oracle replays the tile formula in
    SQL without touching a JPEG byte.  ``decoded`` must be TRUE on every
    row — a fallback to the stub fails the oracle."""
    from .operators.multimodal import extract_features, synth_media_jpeg

    media = synth_media_jpeg(spark, n=40)
    feats = extract_features(media, decode="real")
    f = F.col("feature")
    w = F.round(f[0]).cast("int")
    h = F.round(f[1]).cast("int")
    npx = (w * h).cast("long")
    hist11 = F.array_join(
        F.transform(
            F.slice(f, 6, 11),
            lambda x: F.round(x * npx).cast("int").cast("string"),
        ),
        ",",
    )
    return feats.select(
        "media_id",
        w.alias("w"),
        h.alias("h"),
        F.round(f[2] * npx).cast("long").alias("sum_r"),
        F.round(f[3] * npx).cast("long").alias("sum_g"),
        F.round(f[4] * npx).cast("long").alias("sum_b"),
        hist11.alias("hist11"),
        "decoded",
    )


@q("q85_crawl_refresh_rounds")
def q85(spark, sf):
    """Rows-only: four BSP rounds with BOTH round-5 scheduler features live
    — the trap-template guard capping per-(host, template) admissions and
    Cho–G-M refresh mode reviving the drained frontier (plans/loop.py
    _recrawl_revive) — returning per-URL fetch counts.  Deterministic
    (synthetic web + round timestamps) but the refresh loop's fixpoint is
    not expressible as one SQL query; the loop-level invariants (cap per
    round, revival, change-rate ranking) are pinned by
    tests/test_trap_recrawl.py instead."""
    import tempfile

    from . import synth
    from .catalog import SnapshotCatalog
    from .config import CrawlConfig
    from .plans import loop

    cfg = CrawlConfig(
        politeness_budget=4, batch_size=60, max_rounds=4,
        trap_template_threshold=25, trap_admit_per_round=2,
        recrawl_every=2, recrawl_top=10,
    )
    cat = SnapshotCatalog(spark, tempfile.mkdtemp(prefix="crawlq85_"))
    n, h = 150, 6
    loop.bootstrap(
        spark, cat, cfg,
        synth.gen_seeds(spark, n, h),
        synth.gen_pages(spark, n, h, partitions=8),
        synth.gen_robots(spark, h),
    )
    loop.run_crawl(spark, cat, cfg)
    return (
        cat.read("crawl_log")
        .groupBy("url", "host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fetches"),
            F.min("round").cast("int").alias("first_round"),
            F.max("round").cast("int").alias("last_round"),
        )
    )


# =============================================================================
# Driver-window ordering with ROTATION (VERDICT r4 Next-round #8).  The
# driver's CORRECTNESS_r{N} file records the FIRST 50 registry entries in
# iteration order; with 80+ registered, the rest would otherwise only ever
# have local-oracle evidence.  Policy:
#
# * _WINDOW_HEAD pins this round's NEW or CHANGED queries — they must earn
#   fresh driver evidence unconditionally;
# * every other query joins a deterministic two-phase rotation keyed by
#   _ROTATION_EPOCH (bump to the round number each round): the sorted
#   non-head names split by index parity, and the epoch-matching half goes
#   first.  A query outside this round's window is in the front half of
#   the next round's, so every query re-earns driver evidence at least
#   every ~2 rounds (head size permitting) — closing the silent-regression
#   surface of a permanently-windowed-out tail.  All entries keep full
#   local-oracle coverage every round via tests/test_queries_oracle.py.
# =============================================================================
_ROTATION_EPOCH = 5  # = the build round; bump at each round start

_WINDOW_HEAD = [
    # round 5: new queries + queries whose engine code changed this round
    "q83_png_decode_features",     # new: PNG codec
    "q86_gif_decode_features",     # new: GIF codec (LZW)
    "q87_jpeg_decode_features",    # new: baseline JPEG codec (DCT+Huffman)
    "q84_trap_capped_schedule",    # new: trap guard wiring
    "q85_crawl_refresh_rounds",    # new: refresh-mode crawl (rows-only)
    "q57_image_decode_features",   # synth_media_real now rotates PNG in
    "q56_bm25_english_analyzer",   # Porter steps 2-5 + full stop set
    "q70_pii_scrub",               # unbounded PHONE_RE
    "q71_nfc_normalize",           # vectorized NFC path
    "q30_multimodal_features",     # extract_features gained 'decoded'
]


def _window_order(d: dict) -> dict:
    rest = sorted(k for k in d if k not in _WINDOW_HEAD)
    first = [k for i, k in enumerate(rest) if (i + _ROTATION_EPOCH) % 2 == 0]
    second = [k for i, k in enumerate(rest) if (i + _ROTATION_EPOCH) % 2 == 1]
    ordered = [*_WINDOW_HEAD, *first, *second]
    return {k: d[k] for k in ordered if k in d}


QUERIES = _window_order(QUERIES)
ORACLES = _window_order(ORACLES)
