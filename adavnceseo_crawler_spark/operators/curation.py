"""Training-data curation: document chunking and token-budget source mixing.

Two more operators every LLM-data pipeline runs after filtering and dedup
(task-mandated LLM-pipeline surface; no reference analog — the reference
stores whole pages):

* **Chunking**: split each document into fixed-size word windows with
  overlap — the unit fed to tokenizer + packing (and to RAG indexing).
  Pure JVM array work: ``sequence`` generates the window starts, ``slice``
  cuts each window, one ``posexplode`` per document.  No shuffle at all —
  chunking is embarrassingly row-local, and the chunk stream inherits the
  corpus partitioning.

* **Source mixing**: take documents per source until a per-source TOKEN
  budget is exhausted, deterministically (md5-rank order, the q61 sampling
  convention) — the mechanism behind published mix weights (The Pile,
  LLaMA: N tokens of CommonCrawl, M of code, ...).  Exact semantics need a
  running token sum in rank order, i.e. one window scan per source; at
  100 TB-per-source the exact scan is replaced by a two-stage threshold:
  aggregate per-source token totals, estimate the md5-rank cutoff as
  budget/total, prefilter to ~cutoff + slack, and run the exact window on
  the survivors only — the same verified-prefilter pattern as
  sampling.quota_sample (the window never sees more than ~budget tokens
  per source).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .quality import words_col


def chunk_documents(
    df: DataFrame,
    chunk_words: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, chunk_id, n_words, chunk) — word windows of ``chunk_words``
    starting every ``chunk_words - overlap`` words.  The trailing window may
    be short; windows that would start at-or-past the end are not emitted;
    empty documents yield no chunks."""
    if not 0 <= overlap < chunk_words:
        raise ValueError("need 0 <= overlap < chunk_words")
    step = chunk_words - overlap
    # window starts are NULL for an empty document, and posexplode of NULL
    # emits no rows: an explicit size(_ws) > 0 filter would be pushed below
    # the projection and split every document once more
    starts = f"IF(size(_ws) > 0, sequence(0, size(_ws) - 1, {step}), NULL)"
    return (
        df.select(F.col(id_col), words_col(text_col).alias("_ws"))
        .select(
            id_col,
            "_ws",
            F.posexplode(F.expr(starts)).alias("chunk_id", "_start"),
        )
        .selectExpr(
            id_col,
            "chunk_id",
            f"slice(_ws, _start + 1, {chunk_words}) AS _chunk",
        )
        .selectExpr(
            id_col,
            "CAST(chunk_id AS INT) AS chunk_id",
            "CAST(size(_chunk) AS BIGINT) AS n_words",
            "concat_ws(' ', _chunk) AS chunk",
        )
    )


def token_budget_mix(
    df: DataFrame,
    budget_tokens: int,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep documents per source, in md5(id)-rank order, until the running
    token (whitespace-word) total reaches ``budget_tokens``; the document
    that crosses the budget is included (so a budget > 0 always yields at
    least one document per non-empty source).  Output: source, doc_id,
    n_tokens, cum_tokens (the running total including this doc)."""
    rk = F.md5(F.col(id_col).cast("string"))
    w = (
        Window.partitionBy(source_col)
        .orderBy(rk, id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.select(
            source_col,
            id_col,
            F.size(words_col(text_col)).cast("long").alias("n_tokens"),
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") - F.col("n_tokens") < budget_tokens)
    )


def pack_sequences(
    df: DataFrame,
    capacity: int,
    shard_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy contiguous sequence packing: assign documents, in ``id_col``
    order within each shard, to fixed token-capacity training contexts
    (Raffel et al. 2020 "packing"; every pretraining pipeline's last step
    before tokenized shards are written).

    Rule: a document opens a new pack iff adding it would overflow the
    current pack (``fill + n > capacity``); a document longer than
    ``capacity`` therefore sits alone in an oversize pack of one (chunk
    first with ``chunk_documents`` if that is not wanted).  Output:
    ``shard, doc_id, n_tokens, pack_id (0-based per shard), pack_fill``
    (running fill *after* adding this doc).

    Scale shape: packing is inherently sequential *within* a shard — that
    is its semantics, the parallel unit is the shard (at 100 TB use a
    bounded composite shard key, e.g. source × input-file bucket, so every
    group fits one task).  Only ``(doc_id, n_tokens)`` enters the
    applyInPandas group — 16 bytes/row over Arrow, never the text — and
    the token counting itself stays JVM-side.
    """
    cap = int(capacity)
    counted = df.select(
        F.col(shard_col).cast("string").alias("shard"),
        F.col(id_col).cast("long").alias("doc_id"),
        F.size(words_col(text_col)).cast("long").alias("n_tokens"),
    )

    def pack(pdf):
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pid, fill = -1, 0
        pids, fills = [], []
        for n in pdf["n_tokens"]:
            n = int(n)
            if pid < 0 or fill + n > cap:
                pid += 1
                fill = n
            else:
                fill += n
            pids.append(pid)
            fills.append(fill)
        return pdf.assign(pack_id=pids, pack_fill=fills).astype(
            {"pack_id": "int32", "pack_fill": "int64"}
        )

    return counted.groupBy("shard").applyInPandas(
        pack,
        "shard string, doc_id long, n_tokens long, pack_id int, pack_fill long",
    )
