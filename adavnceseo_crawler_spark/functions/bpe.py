"""Distributed BPE tokenizer training + encoding.

The last missing stage of the training-data pipeline (dedup → quality →
mix → pack → **tokenize**): byte-pair encoding (Sennrich et al. 2016), fit
at corpus scale.

Scale shape of the fit: the corpus first collapses to the WORD-COUNT table
(one groupBy — at 100 TB web text that is ~10^7-10^8 distinct words, a
vocab-sized DataFrame, NOT a corpus-sized one).  Every merge iteration is
then one small aggregate over that table: explode adjacent symbol pairs
weighted by word count, sum per pair, take the argmax (deterministic
count-desc / pair-asc tie-break, a 1-row collect), and rewrite the symbol
arrays with a JVM ``aggregate`` fold (greedy left-to-right non-overlapping
merge — the BPE rule).  N merges = N vocab-sized jobs; the corpus is
touched exactly once.  The vocab frame persists each iteration with a
periodic lineage cut (the q65 convention).

Encoding applies the learned merge list per word with the standard
rank-priority loop in an Arrow-batched pandas UDF (tokenization is the
honest CPU-bound slow path everywhere; per-batch memoization makes repeated
words O(1)).

No reference analog (the reference never tokenizes; its nearest surface is
the keyword extractor, html_parser.py).  Task-mandated LLM-pipeline
surface.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.quality import words_col

#: end-of-word marker (classic BPE; keeps merges from crossing word ends
#: when encoded text is later detokenized)
EOW = "▁"

_CHARS = "filter(split(w, ''), x -> x <> '')"
_PAIRS = (
    "filter(transform(syms, (x, i) -> IF(i + 1 < size(syms), "
    "struct(x AS a, element_at(syms, i + 2) AS b), NULL)), p -> p IS NOT NULL)"
)


def _merge_expr(a: str, b: str):
    """Greedy left-to-right non-overlapping merge of adjacent (a, b) into
    a+b inside the ``syms`` array — a single JVM fold, no Python."""
    def _q(s: str) -> str:
        return s.replace("\\", "\\\\").replace("'", "\\'")

    qa, qb = _q(a), _q(b)
    return F.expr(
        "aggregate(syms, CAST(array() AS array<string>), (acc, x) -> "
        f"IF(size(acc) > 0 AND element_at(acc, -1) = '{qa}' AND x = '{qb}', "
        f"concat(slice(acc, 1, size(acc) - 1), array('{qa}{qb}')), "
        "concat(acc, array(x))))"
    )


def fit_bpe(
    df: DataFrame,
    n_merges: int = 50,
    text_col: str = "text",
    min_count: int = 2,
    materialize_every: int = 8,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merge rules from a corpus; returns the ordered
    merge list [(left, right), ...].  Stops early when the best pair's
    weighted count drops below ``min_count``."""
    words = (
        df.select(F.explode(words_col(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    vocab = words.select(
        "cnt",
        F.concat(F.expr(_CHARS), F.array(F.lit(EOW))).alias("syms"),
    ).persist()
    merges: list[tuple[str, str]] = []
    prev = vocab
    for it in range(1, n_merges + 1):
        top = (
            vocab.select("cnt", F.explode(F.expr(_PAIRS)).alias("p"))
            .groupBy("p")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), F.asc("p.a"), F.asc("p.b"))
            .first()
        )
        if top is None or top["c"] < min_count:
            break
        a, b = top["p"]["a"], top["p"]["b"]
        merges.append((a, b))
        vocab = vocab.withColumn("syms", _merge_expr(a, b))
        if it % materialize_every == 0:
            vocab = vocab.persist()
            vocab.count()
            prev.unpersist()
            prev = vocab
    prev.unpersist()
    return merges


def bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Reference encoder: repeatedly apply the best-ranked applicable merge
    (standard BPE encode loop).  Pure Python — used by the UDF per unique
    word and by tests as the transparent spec."""
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best, best_rank = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = i, r
        if best is None:
            break
        # merge ALL non-overlapping occurrences of that pair, left to right
        # (equivalent to re-scanning after each single merge of the same
        # pair, and identical to the fit's fold rule)
        a, b = syms[best], syms[best + 1]
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id, n_words, n_tokens, tokens)`` — BPE-encode every document with
    a learned merge list.  Arrow-batched pandas UDF with per-batch word
    memoization; the merge table ships once per executor via closure."""
    from pyspark.sql.types import ArrayType, StringType

    ranks = {pair: i for i, pair in enumerate(merges)}

    @F.pandas_udf(ArrayType(StringType()))
    def enc(words: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}

        def one(ws):
            out = []
            for w in ws:
                got = memo.get(w)
                if got is None:
                    got = memo[w] = bpe_encode_word(w, ranks)
                out.extend(got)
            return out

        return words.map(one)

    return df.select(
        F.col(id_col),
        words_col(text_col).alias("_ws"),
    ).select(
        id_col,
        F.size("_ws").cast("long").alias("n_words"),
        enc(F.col("_ws")).alias("tokens"),
    ).select(
        id_col,
        "n_words",
        F.size("tokens").cast("long").alias("n_tokens"),
        "tokens",
    )
