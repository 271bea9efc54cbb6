"""Text-analysis functions for the training-data pipeline surface.

JVM-side Column expressions wherever possible (codegen'd, no Python in the hot
path); pandas UDFs only for genuinely non-expressible ops (fingerprint).

Includes the reference's content classifier / quality score
(processor.py:177-236) plus the large-scale pipeline ops the engine adds:
language-ID (stopword heuristic), token counting, and a rolling-hash
document fingerprint.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# content-type patterns (processor.py:181-186); matched case-insensitively
CONTENT_PATTERNS = (
    ("article", "article|post|story|news"),
    ("product", "product|price|\\$|€|£"),
    ("landing", "welcome|homepage|main"),
    ("listing", "category|archive|list|index"),
)

# tiny per-language marker sets for the n-gram/stopword language heuristic
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "ich", "zu"),
    "fr": ("le", "la", "les", "et", "est", "pas", "pour", "que", "une", "des"),
    "es": ("el", "la", "los", "que", "de", "es", "por", "con", "una", "para"),
    "it": ("il", "la", "che", "di", "e", "per", "un", "con", "del", "sono"),
}


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal.  The SQL parser unescapes
    backslash sequences inside literals, so a regex's backslashes (and any
    quote) are escaped to reach the regex engine unchanged."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _argmax_name(cands: list[tuple[str, str]], default: str) -> Column:
    """Name of the first candidate whose count strictly exceeds every earlier
    one, starting from 0 (``default`` when all counts are 0).  ``cands`` are
    (name, SQL count expression) pairs in priority order."""
    # ONE ordered struct comparison: greatest() over (count, -index, name)
    # structs evaluates each count once (a fold of nested whens re-embeds
    # every earlier count in each later branch, ~2^(K-k) copies of the k-th,
    # defeating codegen subexpression sharing); the sentinel ranks above any
    # zero-count candidate (ni=1 > -k) and below any positive count,
    # reproducing strictly-greater/first-wins exactly
    structs = [f"named_struct('c', 0, 'ni', 1, 'n', {sql_str(default)})"] + [
        f"named_struct('c', {cnt}, 'ni', {-i}, 'n', {sql_str(name)})"
        for i, (name, cnt) in enumerate(cands)
    ]
    return F.expr(f"greatest({', '.join(structs)}).n")


def content_type_col(text: str) -> Column:
    """A7 argmax classification (processor.py:193-201) of column ``text``:
    the reference takes the first pattern (dict order) whose count strictly
    exceeds the running max, starting from 0 — so all-zero counts yield
    'unknown' and ties keep the earlier pattern.  Counts are case-insensitive
    regex matches (len(re.findall(p, s, re.I)))."""
    return _argmax_name(
        [
            (name, f"regexp_count({text}, {sql_str('(?i)' + pat)})")
            for name, pat in CONTENT_PATTERNS
        ],
        "unknown",
    )


def quality_score_col(
    text: Column, has_h1: Column, description: Column, keywords: Column
) -> Column:
    """A8 quality score (processor.py:217-236): multiplicative factors,
    capped at 2.0."""
    length = F.length(F.coalesce(text, F.lit("")))
    score = F.lit(1.0)
    score = score * F.when(length > 1000, F.lit(1.2)).when(
        length < 100, F.lit(0.8)
    ).otherwise(F.lit(1.0))
    score = score * F.when(has_h1, F.lit(1.1)).otherwise(F.lit(1.0))
    has_meta = (
        description.isNotNull()
        & (F.length(description) > 0)
        & keywords.isNotNull()
        & (F.size(keywords) > 0)
    )
    score = score * F.when(has_meta, F.lit(1.1)).otherwise(F.lit(1.0))
    return F.least(score, F.lit(2.0))


def token_count_col(text: str) -> Column:
    """BPE-ish token estimate of column ``text``: word-ish pieces +
    standalone punctuation."""
    pat = sql_str(r"[A-Za-z0-9]+|[^\sA-Za-z0-9]")
    return F.expr(f"size(regexp_extract_all({text}, {pat}, 0))")


def lang_id_col(text: str) -> Column:
    """Stopword-marker language heuristic on column ``text`` (argmax of
    marker hits; 'und' = undetermined when nothing matches)."""
    cands = []
    for lang, words in LANG_MARKERS.items():
        pat = sql_str(r"\b(" + "|".join(words) + r")\b")
        cands.append((lang, f"size(regexp_extract_all(lower({text}), {pat}, 0))"))
    return _argmax_name(cands, "und")


# ---------------------------------------------------------------------------
# document fingerprint (rolling hash) — pandas UDF (not SQL-expressible)
# ---------------------------------------------------------------------------
_FP_BASE = 1_000_003
_FP_MOD = (1 << 61) - 1


def fingerprint(text: str) -> int:
    """Polynomial rolling hash over the whole document (deterministic)."""
    h = 0
    for b in text.encode("utf-8"):
        h = (h * _FP_BASE + b + 1) % _FP_MOD
    return h


@F.pandas_udf(T.LongType())
def fingerprint_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda t: fingerprint(t) if t is not None else None)
