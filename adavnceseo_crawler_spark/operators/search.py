"""Full-text search surface (T1/T2): the ES multi_match approximation.

The reference delegates search to Elasticsearch: ``multi_match(query,
[title^3, description^2, text_content], type=best_fields)`` sorted by score
(elasticsearch_storage.py:89-111), with a ``domain:``-prefix special case in
the JS proxy (server.js:115-131).  Documented approximation (SURVEY.md §2.8):
per-field term-frequency of the query terms, field weights 3/2/1,
``best_fields`` = greatest across fields, score-desc ordering with url
tie-break.  Pure JVM expressions — regexp_count per term per field.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.nbayes import doc_tokens

FIELD_WEIGHTS = (("title", 3.0), ("description", 2.0), ("text", 1.0))

# english-analyzer vocabulary guard: above this many raw-term hits the
# driver-side literal mapping would grow without bound, so bm25_topk falls
# back to the distributed broadcast join (see the analyzer='english' path)
_VOCAB_HIT_CAP = 10000


def _tf(col: Column, term: str) -> Column:
    return F.regexp_count(F.lower(col), F.lit(re.escape(term.lower()))).cast("double")


def search_score(df_cols: dict[str, Column], query: str) -> Column:
    """best_fields: max over fields of (weight × Σ term tf)."""
    terms = [t for t in query.split() if t]
    per_field = []
    for field, w in FIELD_WEIGHTS:
        if field not in df_cols:
            continue
        tf_sum = None
        for t in terms:
            tf = _tf(df_cols[field], t)
            tf_sum = tf if tf_sum is None else tf_sum + tf
        per_field.append(F.lit(w) * F.coalesce(tf_sum, F.lit(0.0)))
    return F.greatest(*per_field) if len(per_field) > 1 else per_field[0]


def search_pages(parsed: DataFrame, query: str, size: int = 10) -> DataFrame:
    """T1: search the parsed table (title/description/text fields)."""
    score = search_score(
        {"title": F.col("title"), "description": F.col("description"),
         "text": F.col("text")},
        query,
    )
    return (
        parsed.withColumn("score", score)
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("url"))
        .limit(size)
        .select("url", "title", "description", "score")
    )


# ---------------------------------------------------------------------------
# BM25 over an inverted-index table (the real ES scoring shape, SURVEY §2.8:
# elasticsearch_storage.py:89-111 runs Lucene BM25 — this is the native
# re-expression; the weighted-TF search above remains the cheap approximation)
# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# "english"-analyzer variant (ES `english` analyzer ≈ standard tokenizer +
# stopword removal + possessive stripping + stemming).  The reference's index
# uses the default `standard` analyzer (elasticsearch_storage.py:30-52), but
# ES exposes the english analyzer as a one-line index setting, so the search
# surface offers both.  The stemmer is a fixed suffix-rule chain (Porter
# step-1 incl. possessives / eed->ee / y-rule; length guards stand in for
# Porter's measure>0 / contains-vowel conditions) chosen to be expressible
# IDENTICALLY as JVM regexp chains and as DuckDB SQL — the q56 oracle CTEs
# are GENERATED from this same table (en_stem_sql_ctes), so an edit here can
# never desync engine and oracle; en_stem_py is the required-equal Python
# mirror used to stem query terms (tested in test_misc_ops).
# ---------------------------------------------------------------------------
# Lucene's ENGLISH_STOP_WORDS_SET — the exact 33-word set the ES `english`
# analyzer ships (org.apache.lucene.analysis.en.EnglishAnalyzer); the q56
# oracle's token CTE is generated from this same tuple (queries._EN_TOKCOL).
EN_STOPWORDS = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with",
)

# Porter's measure>0 / contains-vowel conditions stand in as length guards
# EMBEDDED in the pattern (``^(.{3,})ing$`` ⇔ "len > 5 and ends in ing" —
# the suffix position is anchored, so the prefix-length requirement is an
# exact re-expression of the former ``CASE WHEN length > n`` guard).  Flat
# patterns matter for the JVM side: a guard expressed as
# ``F.when(length(c) > n, regexp_replace(c, ..)).otherwise(c)`` duplicates
# the accumulated expression THREE times per guarded rule, so four guarded
# rules made the codegen'd expression tree ~3^4 larger and q56 3.5× slower
# (BENCH r4 capture: 4.3 s -> 15.1 s).  With the guard in the pattern the
# chain is 10 linear regexp_replace calls.
_EN_STEM_RULES = (
    ("'s$", ""),           # possessive: dog's -> dog  (english tokenizer
    ("'+$", ""),           # keeps apostrophes; trailing/leading bare quotes
    ("^'+", ""),           # stripped like Lucene's possessive filter)
    ("sses$", "ss"),       # caresses -> caress          (step 1a)
    ("ies$", "i"),         # queries -> queri
    ("([^s])s$", "$1"),    # tables -> table (ss kept)
    ("^(.{3,})eed$", "$1ee"),  # agreed -> agree; speed/freed kept (step 1b)
    ("^(.{3,})ing$", "$1"),    # searching -> search (former len>5 guard)
    ("^(.{2,})([^e])ed$", "$1$2"),  # crawled -> crawl (former len>4 guard;
                           # eed words are the EED rule's alone — Porter's
                           # longest-suffix precedence, so speed/feed kept)
    ("^(.{2,})([a-z])y$", "$1$2i"),  # query -> queri (unifies with ies-stems)
    # ---- steps 2-4: the full Porter suffix-mapping tables (round 5).
    # Porter's m>0 / m>1 measure conditions are re-expressed as anchored
    # prefix-length guards, same convention as step 1 above; within each
    # step longer suffixes precede their sub-suffixes so sequential
    # application matches Porter's longest-match-per-step on the table's
    # own suffixes (a word rewritten by one rule no longer carries the
    # shorter suffix).  Chain stays FLAT regexp_replace — linear codegen.
    ("^(.{2,})ational$", "$1ate"),   # step 2 (m>0 ~ prefix >= 2)
    ("^(.{2,})tional$", "$1tion"),   # conditional -> condition
    ("^(.{2,})enci$", "$1ence"),
    ("^(.{2,})anci$", "$1ance"),
    ("^(.{2,})izer$", "$1ize"),
    ("^(.{2,})abli$", "$1able"),
    ("^(.{2,})alli$", "$1al"),
    ("^(.{2,})entli$", "$1ent"),
    ("^(.{2,})eli$", "$1e"),
    ("^(.{2,})ousli$", "$1ous"),
    ("^(.{2,})ization$", "$1ize"),   # organization -> organize (-> organ, s4)
    ("^(.{2,})ation$", "$1ate"),     # information -> informate (-> inform)
    ("^(.{2,})ator$", "$1ate"),
    ("^(.{2,})alism$", "$1al"),
    ("^(.{2,})iveness$", "$1ive"),   # effectiveness -> effective (-> effect)
    ("^(.{2,})fulness$", "$1ful"),   # hopefulness -> hopeful (-> hope, s3)
    ("^(.{2,})ousness$", "$1ous"),
    ("^(.{2,})aliti$", "$1al"),      # (fed by the y->i rule: quality -> qual)
    ("^(.{2,})iviti$", "$1ive"),
    ("^(.{2,})biliti$", "$1ble"),
    ("^(.{2,})icate$", "$1ic"),      # step 3
    ("^(.{2,})ative$", "$1"),
    ("^(.{2,})alize$", "$1al"),
    ("^(.{2,})iciti$", "$1ic"),
    ("^(.{2,})ical$", "$1ic"),       # electrical -> electric
    ("^(.{3,})ful$", "$1"),
    ("^(.{3,})ness$", "$1"),
    ("^(.{4,})ement$", "$1"),        # step 4 (m>1 ~ prefix >= 4)
    ("^(.{4,})ment$", "$1"),         # entertainment -> entertain
    ("^(.{4,})ance$", "$1"),
    ("^(.{4,})ence$", "$1"),
    ("^(.{4,})able$", "$1"),
    ("^(.{4,})ible$", "$1"),
    ("^(.{4,})ant$", "$1"),
    ("^(.{4,})ent$", "$1"),
    ("^(.{4,})([st])ion$", "$1$2"),  # ion only after s/t (Porter's *S/*T)
    ("^(.{4,})ism$", "$1"),
    ("^(.{4,})ate$", "$1"),          # generate -> gener
    ("^(.{4,})iti$", "$1"),
    ("^(.{4,})ous$", "$1"),
    ("^(.{4,})ive$", "$1"),
    ("^(.{4,})ize$", "$1"),
    ("^(.{5,})al$", "$1"),           # 2-char suffixes: stricter guard
    ("^(.{5,})er$", "$1"),
    ("^(.{5,})ic$", "$1"),
    ("^(.{4,})e$", "$1"),            # step 5a (m>1, or m=1 not *o)
    ("^(.{4,})ll$", "$1l"),          # step 5b: controll -> control
)


def en_stem_sql_ctes(first_cte: str = "raw", token_col: str = "t") -> str:
    """DuckDB CTE chain replaying _EN_STEM_RULES rule-for-rule — the oracle
    half of the analyzer, derived from the SAME table the JVM chain uses.
    Returns 's1 AS (...), ..., toks AS (...)' with the final column named
    ``term``."""
    ctes = []
    prev = first_cte
    n = len(_EN_STEM_RULES)
    for i, (pat, repl) in enumerate(_EN_STEM_RULES):
        name = "toks" if i == n - 1 else f"s{i + 1}"
        out = "term" if i == n - 1 else token_col
        sql_repl = repl.replace("$1", "\\1").replace("$2", "\\2").replace("'", "''")
        sql_pat = pat.replace("'", "''")
        expr = f"regexp_replace({token_col}, '{sql_pat}', '{sql_repl}')"
        ctes.append(f"{name} AS (SELECT doc_id, {expr} AS {out} FROM {prev})")
        prev = name
    return ",\n    ".join(ctes)


def en_stem(c: Column) -> Column:
    for pat, repl in _EN_STEM_RULES:
        c = F.regexp_replace(c, pat, repl)
    return c


def en_stem_py(t: str) -> str:
    """Mirror of en_stem for driver-side query terms (must stay rule-for-rule
    identical — the equality is unit-tested)."""
    for pat, repl in _EN_STEM_RULES:
        t = re.sub(pat, repl.replace("$1", r"\1").replace("$2", r"\2"), t)
    return t


def bm25_token_scores(
    tokenized: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """(id, bm25) over a PRE-TOKENIZED field column — the per-field scorer
    behind both bm25_topk (single field) and bm25_best_fields (the real ES
    ``multi_match`` per-field shape).  Only docs with ≥1 query-term hit are
    returned (their score is strictly positive: idf = ln(1+x), x > 0)."""
    toks = tokenized.select(
        F.col(id_col), F.explode(F.col(tokens_col)).alias("term")
    )
    idx = (
        toks.filter(F.col("term").isin(*terms))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = tokenized.select(
        F.col(id_col), F.size(F.col(tokens_col)).cast("double").alias("dl")
    )
    return _bm25_score_postings(idx, dl, terms, k1, b, id_col)


def _bm25_score_postings(
    idx: DataFrame,
    dl: DataFrame,
    terms: list[str],
    k1: float,
    b: float,
    id_col: str,
) -> DataFrame:
    """BM25 scoring over pre-built postings: ``idx`` = (id, term, tf:long)
    with one row per (doc, query term) hit, ``dl`` = (id, dl:double).
    Shared tail of bm25_token_scores and the english-analyzer postings path
    in bm25_topk — identical arithmetic and fixed-term-order summation.

    ``dl`` is materialized ONCE via lazy localCheckpoint: it feeds two
    consumers (the scored join AND the stats broadcast), each of which
    would otherwise re-evaluate the whole tokenize subtree (measured on
    q56 at sf0.1: 12 parquet scans / 8 Generate nodes in one plan), and
    its rows are (id, double) — a few bytes per document at any scale.
    ``idx`` deliberately is NOT checkpointed here: in the standard-analyzer
    path the query-term filter must stay visible in the logical plan so it
    keeps pushing below the tf aggregate to the parquet scan (plan-pinned
    by test_bm25_term_filter_pushed_below_aggregate); the english path
    checkpoints its raw postings upstream instead, so idx is cheap on both
    of its consumers either way.  localCheckpoint rather than cache():
    blocks are freed by the ContextCleaner when the query's plan is
    dropped — nothing leaks across bench reps."""
    dl = dl.localCheckpoint(eager=False)
    # exact integer sufficient statistics -> bit-identical avgdl on any
    # partitioning (and vs the sequential DuckDB oracle)
    stats = dl.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("dl").cast("long")).alias("_sdl"),
    ).select(
        F.col("_n").cast("double").alias("n_docs"),
        (F.col("_sdl") / F.col("_n")).alias("avgdl"),
    )
    dfreq = idx.groupBy("term").agg(
        F.countDistinct(id_col).cast("double").alias("df")
    )
    scored = (
        idx.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * F.col("tf")
            * (k1 + 1.0)
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    # sum the (≤ one-per-term) rows in FIXED term order via conditional
    # aggregation — a bare sum() would add doubles in nondeterministic row
    # order, breaking bit-parity with the sequential oracle
    per_term = [
        F.sum(F.when(F.col("term") == t, F.col("term_score"))).alias(f"_s{i}")
        for i, t in enumerate(sorted(terms))
    ]
    total = None
    for i in range(len(terms)):
        part = F.coalesce(F.col(f"_s{i}"), F.lit(0.0))
        total = part if total is None else total + part
    return scored.groupBy(id_col).agg(*per_term).select(
        id_col, total.alias("bm25")
    )


def bm25_topk(
    df: DataFrame,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "standard",
) -> DataFrame:
    """BM25 top-k: idf(t)·tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)) summed over
    query terms, idf = ln(1 + (N-df+0.5)/(df+0.5)) (Lucene's formulation).

    analyzer='standard' (default, the reference's index setting) or
    'english' (stopwords + stemming; pass PRE-STEMMED terms via en_stem_py).

    Dataflow: postings filtered to the query terms (tiny), joined to per-doc
    lengths; N/avgdl/df are scalar/broadcast aggregates — nothing shuffles
    except the postings build.

    analyzer='english' stems the DISTINCT VOCABULARY, not occurrences: the
    57-rule en_stem chain over every token occurrence was q56's round-5
    regression (2.3x its r4 wall — VERDICT r5 "What's wrong" #3), and at web
    scale the distinct-term count is orders of magnitude below the
    occurrence count.  Stemming is tf-preserving (one token in, one token
    out) and dl counts post-stopword tokens, so dl comes straight from the
    UNSTEMMED array; raw-term tf aggregates first, then only the distinct
    raw terms pass the stem chain, and raw terms stemming into a query term
    re-enter the raw postings as a literal filter+CASE (or a broadcast join
    past _VOCAB_HIT_CAP).  Row-for-row identical to stemming occurrences
    (same mapping applied per distinct token)."""
    if analyzer == "english":
        raw = F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9']+"),
            lambda w: (w != F.lit("")) & ~w.isin(*EN_STOPWORDS),
        )
        base = df.select(F.col(id_col), raw.alias("_raw"))
        # ONE tokenize pass: raw-term postings materialize once (lazy
        # localCheckpoint — self-cleaning, see _bm25_score_postings) and
        # both dl and the stemmed index derive from them.  dl = Σ tf_raw
        # per doc == size of the post-stopword token array (stemming is
        # 1-token-in-1-token-out); docs with zero surviving tokens re-enter
        # via the left join with dl = 0, so n_docs/avgdl are unchanged.
        idx_raw = (
            base.select(F.col(id_col), F.explode("_raw").alias("_rt"))
            .groupBy(id_col, "_rt")
            .agg(F.count(F.lit(1)).alias("_tfr"))
            .localCheckpoint(eager=False)
        )
        dl = (
            df.select(id_col)
            .join(
                idx_raw.groupBy(id_col).agg(F.sum("_tfr").alias("_dln")),
                id_col,
                "left",
            )
            .select(
                F.col(id_col),
                F.coalesce(F.col("_dln"), F.lit(0)).cast("double").alias("dl"),
            )
        )
        # Stem the distinct vocabulary in ONE tiny job and collect the hit
        # set (raw terms whose stem is a query term — bounded by the stem
        # preimage of the query, not by corpus size), then fold the raw→stem
        # mapping into the postings scan as literal predicates.  This
        # replaces a broadcast build + a second checkpoint whose plans both
        # re-embedded the 57-rule stem chain: with AQE every lazy
        # localCheckpoint compiles and materializes its query stages
        # up-front, so each extra barrier cost a full plan→codegen→job
        # round-trip (measured: 4-5 s of q56's 5.9 s wall at sf0.1 was
        # these two builds, not data).  _VOCAB_HIT_CAP guards the
        # degenerate-vocabulary case: past it we keep the broadcast join
        # rather than grow the literal CASE without bound.
        # The checkpoint between distinct() and the stem chain is a
        # CARDINALITY PIN, not a cache: without it Catalyst pushes the
        # term-filter (which embeds the 57-rule chain) below the distinct
        # aggregate, so the chain runs per POSTING row again — exactly the
        # per-occurrence cost this path exists to avoid (measured at sf0.1:
        # 2.2 s vs 0.2 s for the vocab job; the round-5 "stem distinct
        # vocabulary" fix was silently undone by that pushdown).
        vocab = idx_raw.select("_rt").distinct().localCheckpoint(eager=False)
        vocab_hits = vocab.withColumn("term", en_stem(F.col("_rt"))).filter(
            F.col("term").isin(*terms)
        )
        hits = vocab_hits.limit(_VOCAB_HIT_CAP + 1).collect()
        if len(hits) > _VOCAB_HIT_CAP:
            idx = (
                idx_raw.join(F.broadcast(vocab_hits), "_rt")
                .groupBy(id_col, "term")
                .agg(F.sum("_tfr").alias("tf"))
            )
        elif not hits:
            idx = idx_raw.select(
                F.col(id_col),
                F.lit("").alias("term"),
                F.col("_tfr").alias("tf"),
            ).filter(F.lit(False))
        else:
            mapping = {r["_rt"]: r["term"] for r in hits}
            stem_case = None
            for rt in sorted(mapping):
                branch = (F.col("_rt") == F.lit(rt), F.lit(mapping[rt]))
                stem_case = (
                    F.when(*branch)
                    if stem_case is None
                    else stem_case.when(*branch)
                )
            idx = (
                idx_raw.filter(F.col("_rt").isin(*sorted(mapping)))
                .withColumn("term", stem_case)
                .groupBy(id_col, "term")
                .agg(F.sum("_tfr").alias("tf"))
            )
        scores = _bm25_score_postings(idx, dl, terms, k1, b, id_col)
    else:
        tokenized = df.select(
            F.col(id_col), doc_tokens(text_col).alias("tokens")
        )
        scores = bm25_token_scores(tokenized, terms, k1, b, id_col, "tokens")
    return (
        scores.select(id_col, F.round("bm25", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )


BEST_FIELDS_WEIGHTS = (("title", 3.0), ("description", 2.0), ("body", 1.0))


def bm25_best_fields(
    fields: dict[str, DataFrame],
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """ES ``multi_match type=best_fields`` over BM25 (the actual Lucene
    semantics of elasticsearch_storage.py:89-111: each field is scored with
    its OWN BM25 — per-field df, dl, avgdl — and the document score is the
    max of the boosted field scores, title^3 / description^2 / text^1).

    ``fields`` maps the BEST_FIELDS_WEIGHTS names to (id, tokens) frames.
    The join spine is the body-field score set: body tokens are a superset
    of every other field here, so any doc matching anywhere matches in body
    (asserted by the caller's construction, not re-checked)."""
    weights = dict(BEST_FIELDS_WEIGHTS)
    scores = {
        name: bm25_token_scores(fdf, terms, k1, b, id_col, tokens_col)
        .withColumnRenamed("bm25", f"_s_{name}")
        for name, fdf in fields.items()
    }
    out = scores["body"]
    for name in ("title", "description"):
        out = out.join(scores[name], id_col, "left")
    best = F.greatest(
        *[
            F.lit(weights[name]) * F.coalesce(F.col(f"_s_{name}"), F.lit(0.0))
            for name, _ in BEST_FIELDS_WEIGHTS
        ]
    )
    return (
        out.select(id_col, F.round(best, 6).alias("best_score"))
        .orderBy(F.desc("best_score"), F.asc(id_col))
        .limit(k)
    )


def search_with_domain_filter(
    parsed: DataFrame, query: str, size: int = 10
) -> DataFrame:
    """T2: ``domain:foo.com`` prefix filters by host instead (server.js:115-131)."""
    if query.startswith("domain:"):
        host = query.split(":", 1)[1].strip()
        return (
            parsed.withColumn(
                "host", F.lower(F.parse_url("url", F.lit("HOST")))
            )
            .filter(F.col("host") == host.lower())
            .orderBy(F.asc("url"))
            .limit(size)
            .select("url", "title", "description")
        )
    return search_pages(parsed, query, size).drop("score")
