"""Trained multinomial naive Bayes (U6 sentiment / U8 topic upgrade).

The reference runs DistilBERT sentiment (processor.py:238-287) and BART-MNLI
zero-shot topics (processor.py:368-423).  Torch is not installable in this
sandbox, so the engine ships the text-classification model family that IS
trainable exactly inside Spark at 100 TB: **multinomial naive Bayes fit by
one distributed aggregate** of exact integer sufficient statistics
(per-(class, token) counts), with Laplace smoothing.

Weak supervision provides the labels (the deterministic lexicon/marker rules
that previously WERE the whole model are now only the labeling functions —
the standard distillation shape: rule-label a corpus, fit a real model on
token counts, score with the model).

Determinism / oracle parity: log-probabilities are quantized to integer
micro-nats, ``floor(1e6 · ln((cnt+1)/(tot_c+V)) + 0.5)``, so per-document
scores are EXACT INTEGER dot products (order-free sums) and the DuckDB
oracle retrains the identical model in SQL — the only cross-engine float op
is ``ln`` of an identical double, bit-identical between glibc (DuckDB /
CPython) and the JVM (verified by the green q46, which crosses the same
boundary).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TOKEN_SPLIT = "[^a-z0-9]+"


def doc_tokens(text_col: str = "text"):
    """lowercase alnum tokens; empty strings dropped (mirrors the oracle's
    regexp_split_to_array + filter).  Also the BM25 index's tokenizer
    (operators/search): the ES `standard` analyzer shape — the index the
    reference queries defines no custom analyzer (elasticsearch_storage.py:
    30-52), so Unicode word-boundary segmentation + lowercase, no stemming
    or stopwords, which coincides with this split on the [a-z0-9] corpus."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), TOKEN_SPLIT), lambda w: w != F.lit("")
    )


def token_rows(df: DataFrame, id_col: str = "doc_id", text_col: str = "text"):
    """(id, token) exploded rows — one row per token OCCURRENCE."""
    return df.select(
        F.col(id_col), F.explode(doc_tokens(text_col)).alias("token")
    )


def fit_nb(
    labeled: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    label_col: str = "label",
) -> dict:
    """Fit multinomial NB on (text, label) via ONE distributed aggregate.

    Returns {"priors": {label: int micro-nats}, "weights": {(label, token):
    int micro-nats}, "labels": [...], "vocab": [...]} — the per-class token
    counts are the map-side-combinable sufficient statistics; the collected
    model is O(classes × vocab), independent of corpus size."""
    toks = labeled.select(
        F.col(label_col).alias("label"),
        F.explode(doc_tokens(text_col)).alias("token"),
    )
    cw = {
        (r["label"], r["token"]): r["cnt"]
        for r in toks.groupBy("label", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    ndocs = {
        r["label"]: r["n"]
        for r in labeled.groupBy(label_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    labels = sorted(ndocs)
    vocab = sorted({t for (_, t) in cw})
    V = len(vocab)
    n_total = sum(ndocs.values())
    tot = {c: sum(v for (cc, _), v in cw.items() if cc == c) for c in labels}

    def _q(x: float) -> int:
        return math.floor(1e6 * math.log(x) + 0.5)

    priors = {c: _q(ndocs[c] / n_total) for c in labels}
    weights = {
        (c, t): _q((cw.get((c, t), 0) + 1.0) / (tot[c] + float(V)))
        for c in labels
        for t in vocab
    }
    return {"priors": priors, "weights": weights, "labels": labels, "vocab": vocab}


def fit_nb_df(
    labeled: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    label_col: str = "label", min_df: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Distributed NB fit (VERDICT r3 #3): same model as ``fit_nb`` but the
    (labels × vocab) weight table is computed as a DATAFRAME — per-(label,
    token) counts stay distributed, smoothed log-weights are SQL expressions,
    and nothing vocabulary-sized ever lands on the driver.  At 10⁸-token web
    vocabularies the dict fit is a driver OOM; this path is O(1) driver
    state (the handful of per-label totals, and those stay in DataFrames
    too — they are broadcast-joined, not collected).

    ``min_df``: drop tokens whose GLOBAL occurrence count is below this from
    the vocabulary before fitting (Laplace smoothing tolerates the prune;
    V shrinks accordingly).  min_df=1 keeps the exact fit_nb model, so the
    SQL oracles are unchanged.

    Returns (weights_df[label, token, w], priors_df[label, prior]) with the
    identical integer micro-nat quantization floor(1e6·ln + 0.5)."""
    toks = labeled.select(
        F.col(label_col).alias("label"),
        F.explode(doc_tokens(text_col)).alias("token"),
    )
    # per-(label, token) counts feed vocab, V, per-label totals AND the
    # weight grid join — materialize once (lazy localCheckpoint, freed by
    # the ContextCleaner) instead of re-tokenizing the corpus per consumer
    cnts = toks.groupBy("label", "token").agg(
        F.count(F.lit(1)).alias("cnt")
    ).localCheckpoint(eager=False)
    if min_df > 1:
        keep = (
            cnts.groupBy("token")
            .agg(F.sum("cnt").alias("_g"))
            .filter(F.col("_g") >= min_df)
            .select("token")
        )
        cnts = cnts.join(keep, "token")
    vocab = cnts.select("token").distinct()
    # scalar V and per-label totals ride as 1-row / L-row broadcast frames
    vsz = vocab.agg(F.count(F.lit(1)).cast("double").alias("_V"))
    tots = cnts.groupBy("label").agg(F.sum("cnt").alias("tot"))
    grid = vocab.crossJoin(F.broadcast(tots))  # L×V rows, distributed
    weights = (
        grid.join(cnts, ["label", "token"], "left")
        .crossJoin(F.broadcast(vsz))
        .select(
            "label",
            "token",
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
    # L rows; shared by the priors projection and the ntot 1-row aggregate
    # (without the cut each re-runs the labeling scan)
    cls = labeled.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=False)
    ntot = cls.agg(F.sum("n").cast("double").alias("_n"))
    priors = cls.crossJoin(F.broadcast(ntot)).select(
        F.col(label_col).alias("label"),
        F.floor(1e6 * F.log(F.col("n") / F.col("_n")) + 0.5)
        .cast("long")
        .alias("prior"),
    )
    return weights, priors


def model_tables(spark, model: dict):
    """(weights_df, priors_df) — the persistable model (catalog tables)."""
    wdf = spark.createDataFrame(
        [(c, t, w) for (c, t), w in sorted(model["weights"].items())],
        "label string, token string, w long",
    )
    pdf = spark.createDataFrame(
        sorted(model["priors"].items()), "label string, prior long"
    )
    return wdf, pdf


def nb_scores(
    df: DataFrame, weights: DataFrame, priors: DataFrame,
    id_col: str = "doc_id", text_col: str = "text",
    broadcast_weights: bool = True,
) -> DataFrame:
    """(id, label, score) — integer NB log-score per (doc, class).

    Dataflow: explode tokens → join the (class × vocab) weight table →
    integer hash-agg per (doc, class) → add the prior.  Pure JVM integer
    arithmetic; order-free.  Docs whose every token is out-of-vocab still
    score every class (prior only) via the priors-cross-join union.

    ``broadcast_weights``: the weight table is model-sized (classes ×
    vocab), so it broadcasts while the vocabulary is bounded; at a 10⁸-token
    web vocabulary pass False and the contrib join becomes a token-keyed
    shuffle join (both sides partitioned on token — the same plan shape as
    the BM25 postings join), which is the correct plan there."""
    toks = token_rows(df, id_col, text_col)
    wjoin = F.broadcast(weights) if broadcast_weights else weights
    contrib = (
        toks.join(wjoin, "token")
        .groupBy(id_col, "label")
        .agg(F.sum("w").alias("tscore"))
    )
    base = df.select(id_col).crossJoin(F.broadcast(priors))
    return (
        base.join(contrib, [id_col, "label"], "left")
        .select(
            id_col,
            "label",
            (F.col("prior") + F.coalesce(F.col("tscore"), F.lit(0))).alias("score"),
        )
    )


def nb_predict(
    df: DataFrame, weights: DataFrame, priors: DataFrame,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """(id, predicted, score) — argmax class (tie → label asc)."""
    s = nb_scores(df, weights, priors, id_col, text_col)
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("label"))
    return (
        s.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, F.col("label").alias("predicted"), "score")
    )


# ---------------------------------------------------------------------------
# Oracle SQL fragments — the DuckDB side retrains the identical model.
# ---------------------------------------------------------------------------
def nb_oracle_cte(labeled_cte: str, table: str = "documents") -> str:
    """SQL CTE chain computing (doc_id, label, score) given a ``labeled`` CTE
    with (doc_id, label).  Mirrors fit_nb + nb_scores op-for-op: integer
    counts, floor(1e6·ln+0.5) weights, integer score sums."""
    return f"""
    toks AS (
      SELECT doc_id, t AS token FROM (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '{TOKEN_SPLIT}')) AS t
        FROM {table}) WHERE length(t) > 0),
    ltoks AS (
      SELECT l.label, tk.token FROM toks tk JOIN labeled l USING (doc_id)),
    vocab AS (SELECT DISTINCT token FROM toks),
    vsz AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
    cls AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM labeled GROUP BY label),
    ntot AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM cls),
    cnts AS (
      SELECT label, token, CAST(count(*) AS BIGINT) AS cnt
      FROM ltoks GROUP BY label, token),
    tots AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS tot FROM cnts GROUP BY label),
    weights AS (
      SELECT c.label, v.token,
             CAST(floor(1e6 * ln((COALESCE(cn.cnt, 0) + 1.0)
                                 / (t.tot + CAST(vs.v AS DOUBLE))) + 0.5) AS BIGINT) AS w
      FROM cls c CROSS JOIN vocab v CROSS JOIN vsz vs
      JOIN tots t ON t.label = c.label
      LEFT JOIN cnts cn ON cn.label = c.label AND cn.token = v.token),
    priors AS (
      SELECT c.label,
             CAST(floor(1e6 * ln(CAST(c.n AS DOUBLE) / CAST(nt.n AS DOUBLE)) + 0.5)
                  AS BIGINT) AS prior
      FROM cls c CROSS JOIN ntot nt),
    contrib AS (
      SELECT tk.doc_id, w.label, CAST(sum(w.w) AS BIGINT) AS tscore
      FROM toks tk JOIN weights w ON w.token = tk.token
      GROUP BY tk.doc_id, w.label),
    scores AS (
      SELECT d.doc_id, p.label,
             p.prior + COALESCE(c.tscore, CAST(0 AS BIGINT)) AS score
      FROM (SELECT DISTINCT doc_id FROM {table}) d
      CROSS JOIN priors p
      LEFT JOIN contrib c ON c.doc_id = d.doc_id AND c.label = p.label)
    """
