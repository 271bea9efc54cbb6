"""N-gram language-model perplexity scoring (CCNet-style corpus filter).

CCNet (Wenzek et al. 2019) ranks Common-Crawl documents by the perplexity
of a language model trained on a trusted corpus and drops the
high-perplexity tail; it is the standard statistical quality filter in
LLM-data pipelines (no reference analog — task-mandated surface).  The
sandbox has no KenLM, and the engine's trained-model convention (VERDICT
r2/r3: classical models trained exactly, transformer slots pluggable)
applies: this is an add-1-smoothed word-bigram model, fit and scored
entirely as DataFrame aggregates.

    P(w | u) = (c2(u,w) + 1) / (c1(u) + V)

where ``c2`` is the training bigram count, ``c1(u)`` the count of ``u`` as
a bigram *context* (sum of c2 over its continuations), and ``V`` the
training vocabulary size + 1 (one shared UNK slot).  A document's score is
its average negative log-likelihood over its bigrams (== ln(perplexity)).

Scale shape (mirrors the distributed NB fit, nbayes.py): the fit is two
``groupBy().count()`` aggregations — map-side-combinable, never collected
to the driver; ``V`` rides the plan as a broadcast 1-row aggregate (the
q53 pattern, no separate count job).  Scoring explodes the corpus into
bigram rows and left-joins the two count tables; with the default
``broadcast_weights=True`` the count joins are hinted broadcast (right for
the <=10^6-gram vocabularies of a trusted training corpus), and callers
with a vocabulary too large to broadcast pass ``broadcast_weights=False``
to get plain shuffle hash joins on the gram key (the nbayes.nb_scores
convention) — either way the weights stay DataFrames end to end and no
vocabulary-sized state ever materializes on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .quality import _grams_expr, words_col


def _bigrams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return df.select(
        F.col(id_col), words_col(text_col).alias("_ws")
    ).select(
        id_col,
        F.explode(F.expr(_grams_expr("_ws", 2))).alias("bg"),
    ).select(
        id_col,
        "bg",
        F.substring_index("bg", " ", 1).alias("ctx"),
    )


def bigram_lm_fit(
    train: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fit the add-1 bigram LM on ``train``.

    Returns ``(c2, c1, v)`` DataFrames: bigram counts ``(bg, c2)``,
    context counts ``(ctx, c1)``, and the 1-row vocabulary size ``(v)``
    (distinct train words + 1 UNK).  All stay distributed.
    """
    # the bigram stream feeds both count tables, and each count table is
    # typically consumed as a separate broadcast build downstream — cut once
    # (lazy localCheckpoint, self-cleaning) so train is tokenized a single
    # time instead of once per build
    bg = _bigrams(train, text_col, id_col).localCheckpoint(eager=False)
    c2 = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    c1 = bg.groupBy("ctx").agg(F.count(F.lit(1)).alias("c1"))
    v = (
        train.select(
            F.explode(words_col(text_col)).alias("w")
        )
        .agg((F.count_distinct("w") + F.lit(1)).alias("v"))
    )
    return c2, c1, v


def bigram_lm_score(
    corpus: DataFrame,
    c2: DataFrame,
    c1: DataFrame,
    v: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_weights: bool = True,
) -> DataFrame:
    """Average negative log-likelihood per document under the fitted LM.

    Output: ``doc_id, n_bigrams, avg_nll`` (rounded 6 dp; documents with
    fewer than 2 words score NULL avg_nll over 0 bigrams).

    ``broadcast_weights=False`` drops the broadcast hints on the count
    joins (shuffle hash join on the gram key) for vocabularies too large
    to fit an executor — a broadcast hint never falls back by size, so the
    caller must choose.  The 1-row ``v`` aggregate is always broadcast.
    """
    maybe_b = F.broadcast if broadcast_weights else (lambda d: d)
    scored = (
        _bigrams(corpus, text_col, id_col)
        .join(maybe_b(c2), "bg", "left")
        .join(maybe_b(c1), "ctx", "left")
        .join(F.broadcast(v))
        .select(
            id_col,
            (
                -F.log(
                    (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1))
                    / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
                )
            ).alias("nll"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.avg("nll"), 6).alias("avg_nll"),
        )
    )
    return (
        corpus.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            "avg_nll",
        )
    )
