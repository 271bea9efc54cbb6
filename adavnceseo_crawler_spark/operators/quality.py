"""Corpus-quality gates for LLM training-data curation.

Two operator families the reference crawler lacks but any 100 TB web-text
pipeline runs between crawl and training (task-mandated LLM-pipeline
surface; no reference analog — the reference stores everything it fetches):

* **Repetition / quality statistics** (Rae et al. 2021 "Gopher", §A1.1;
  Penedo et al. 2023 "RefinedWeb" §3): per-document word counts, the
  fraction of word-bigrams taken by the single most frequent bigram, the
  fraction of word-trigrams that are duplicates, and the fraction of words
  containing an alphabetic character, combined into a boolean ``keep`` gate
  with Gopher-adapted thresholds.

* **Benchmark decontamination** (GPT-3 appendix C; standard n-gram overlap
  protocol): flag corpus documents that share any word n-gram with a held
  benchmark/eval set, so evaluation data can be excised from the training
  corpus.

Scale shape: everything is word-array manipulation inside JVM higher-order
functions (``transform``/``filter`` — no Python in the loop), one explode
per family, and aggregations keyed by ``doc_id`` — the natural, skew-free
shuffle key (a document's grams all hash to one reducer; document length is
bounded by the crawl's truncation guards F10).  The benchmark side of the
decontamination join is ``distinct``-ed and broadcast: the corpus-side gram
stream never shuffles, it map-side-joins against the (small) eval-gram set
and then aggregates by ``doc_id``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import sql_str


def words_col(text_col: str) -> Column:
    """Words of column ``text_col``: whitespace split, empties dropped — the
    repo-wide convention (queries.q20)."""
    ws = sql_str(r"\s+")
    return F.expr(f"filter(split(trim({text_col}), {ws}), x -> x != '')")


def _grams_expr(ws: str, n: int) -> str:
    """SQL expr: array of word n-grams of `ws` (array<string>), joined by a
    single space.  Built with transform-over-index + filter so short arrays
    yield an empty gram list with no CASE branches (index i is 0-based; the
    gram starting at i exists iff i + n <= size)."""
    parts = ", ".join(f"element_at({ws}, i + {k + 1})" for k in range(n))
    return (
        f"filter(transform({ws}, (x, i) -> IF(i + {n} <= size({ws}), "
        f"concat_ws(' ', {parts}), NULL)), g -> g IS NOT NULL)"
    )


def gopher_repetition(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    max_top_bigram_frac: float = 0.18,
    max_dup_trigram_frac: float = 0.30,
    min_alpha_word_frac: float = 0.80,
) -> DataFrame:
    """Per-document repetition/quality statistics + ``keep`` gate.

    Output columns: ``doc_id, n_words, top_bigram_frac, dup_trigram_frac,
    alpha_word_frac, keep`` — all fractions rounded to 6 dp (hash-parity
    convention).  Documents with fewer than 2 (3) words have bigram
    (trigram) fraction 0.0.

    One explode feeds BOTH gram sizes (each gram row is tagged with its
    ``n``), so the plan is: scan → explode → groupBy(doc, n, gram) →
    groupBy(doc) conditional agg → left-join back to the per-doc base
    stats.  Two shuffles, both keyed by doc_id.
    """
    ws = words_col(text_col)
    # materialize the tokenized base once (lazy localCheckpoint, self-
    # cleaning): it feeds both the gram explode and the final stats join,
    # and without the cut the split + per-word alpha rlike run twice
    base = df.select(
        F.col(id_col),
        ws.alias("_ws"),
    ).select(
        id_col,
        F.size("_ws").cast("long").alias("n_words"),
        F.size(
            F.filter(F.col("_ws"), lambda x: x.rlike("[A-Za-z]"))
        ).alias("_n_alpha"),
        F.col("_ws"),
    ).localCheckpoint(eager=False)
    tagged = (
        "concat("
        f"transform({_grams_expr('_ws', 2)}, g -> named_struct('n', 2, 'gram', g)), "
        f"transform({_grams_expr('_ws', 3)}, g -> named_struct('n', 3, 'gram', g)))"
    )
    gram_counts = (
        base.select(id_col, F.explode(F.expr(tagged)).alias("g"))
        .groupBy(id_col, F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = gram_counts.groupBy(id_col).agg(
        F.max(F.when(F.col("n") == 2, F.col("c"))).alias("_max_bg"),
        F.sum(F.when(F.col("n") == 2, F.col("c"))).alias("_tot_bg"),
        F.sum(
            F.when((F.col("n") == 3) & (F.col("c") > 1), F.col("c")).otherwise(
                F.lit(0)
            )
        ).alias("_dup_tg"),
        F.sum(F.when(F.col("n") == 3, F.col("c"))).alias("_tot_tg"),
    )
    out = (
        base.drop("_ws")
        .join(stats, id_col, "left")
        .select(
            id_col,
            "n_words",
            F.round(
                F.coalesce(F.col("_max_bg") / F.col("_tot_bg"), F.lit(0.0)), 6
            ).alias("top_bigram_frac"),
            F.round(
                F.coalesce(F.col("_dup_tg") / F.col("_tot_tg"), F.lit(0.0)), 6
            ).alias("dup_trigram_frac"),
            F.round(
                F.col("_n_alpha") / F.greatest(F.col("n_words"), F.lit(1)), 6
            ).alias("alpha_word_frac"),
        )
    )
    keep = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("top_bigram_frac") <= max_top_bigram_frac)
        & (F.col("dup_trigram_frac") <= max_dup_trigram_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
    )
    return out.withColumn("keep", keep)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """N-gram-overlap decontamination: for every corpus document, count the
    DISTINCT word ``n``-grams it shares with any benchmark document.

    Returns ``doc_id, n_shared, contaminated`` for EVERY corpus row (0 /
    false when clean), so downstream can anti-filter or audit.

    Scale shape: the benchmark gram set is distinct-ed and **broadcast**;
    the corpus gram stream map-side inner-joins it (never shuffles on the
    gram key) and only the surviving matches aggregate by doc_id.  The
    final left join re-attaches the zero rows.  At a 10^5-gram benchmark
    (MMLU+GSM8K-scale) the broadcast is a few MB.
    """
    def grams(df):
        return df.select(
            F.col(id_col),
            words_col(text_col).alias("_ws"),
        ).select(
            id_col, F.explode(F.expr(_grams_expr("_ws", n))).alias("gram")
        )

    bench_grams = grams(benchmark).select("gram").distinct()
    matched = (
        grams(corpus)
        .join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count_distinct("gram").alias("_ns"))
    )
    return (
        corpus.select(id_col)
        .join(matched, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("_ns"), F.lit(0)).cast("long").alias("n_shared"),
            (F.coalesce(F.col("_ns"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def repeated_passages(
    df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document repeated-passage statistics (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better": repeated
    n-token spans across documents are memorization fuel; suffix-array
    ExactSubstr is the paper's tool, and the distributed approximation is
    gram-level counting).  Output per document: ``n_grams`` (distinct word
    n-grams), ``n_shared`` (those appearing in >= 2 distinct documents),
    ``shared_frac``.

    Scale shape — ONE pass over the gram stream: (1) per-doc DISTINCT grams,
    a shuffle keyed by (doc_id, gram); (2) document frequency as
    ``count().over(Window.partitionBy(gram))`` — a join of the gram stream
    back to a groupBy(gram) count would re-generate and re-shuffle the whole
    stream a second time (plan-verified: 6 exchanges, two Generate nodes vs
    this shape's 3 and one); (3) final groupBy(doc_id).  At 100 TB the gram
    string would be replaced by a 64-bit hash before the shuffles and
    stopword-only grams (the hot keys of the gram partitioning) dropped
    up-front (documented; kept as the string here so the DuckDB oracle
    replays the pipeline verbatim).
    """
    from pyspark.sql import Window

    grams = (
        df.select(
            F.col(id_col), words_col(text_col).alias("_ws")
        )
        .select(id_col, F.explode(F.expr(_grams_expr("_ws", n))).alias("gram"))
        .distinct()
    )
    flagged = grams.select(
        id_col,
        (
            F.count(F.lit(1)).over(Window.partitionBy("gram")) >= 2
        ).cast("int").alias("_shared"),
    )
    stats = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum("_shared").cast("long").alias("n_shared"),
    )
    return (
        df.select(id_col)
        .join(stats, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared"),
            F.round(
                F.coalesce(F.col("n_shared"), F.lit(0))
                / F.greatest(F.coalesce(F.col("n_grams"), F.lit(0)), F.lit(1)),
                6,
            ).alias("shared_frac"),
        )
    )


def _pos_grams_expr(ws: str, n: int) -> str:
    """SQL expr: array<struct<s:int, gram:string>> of word n-grams of ``ws``
    with their 0-based start token index (the positional variant of
    :func:`_grams_expr`, for operators that must map grams back to the token
    spans they cover)."""
    parts = ", ".join(f"element_at({ws}, i + {k + 1})" for k in range(n))
    return (
        f"filter(transform({ws}, (x, i) -> IF(i + {n} <= size({ws}), "
        f"named_struct('s', i, 'gram', concat_ws(' ', {parts})), NULL)), "
        f"g -> g IS NOT NULL)"
    )


def passage_scrub(
    df: DataFrame,
    n: int = 4,
    min_df: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Repeated-passage REMOVAL — the scrubbing step of Lee et al. 2021
    (ExactSubstr dedup, gram-level distributed approximation): every token
    covered by a word ``n``-gram that appears in at least ``min_df``
    distinct documents is cut from every document, and documents are
    reassembled from the surviving tokens in order.  Completes
    :func:`repeated_passages` (the statistics) with the operator that
    actually edits the corpus.

    Output per input row: ``doc_id, n_tokens, n_removed, new_text``.

    Scale shape: gram doc-frequency = distinct (gram, doc) then
    groupBy(gram) — the same single gram-keyed shuffle family as
    repeated_passages; the hot-gram set joins back to the positional gram
    stream keyed by gram (AQE picks broadcast when the hot set is small —
    repeated passages are a few percent of grams; at 100 TB key both sides
    by xxhash64(gram) to shrink the shuffle to 8-byte keys).  Coverage
    expansion is a bounded ``sequence(s, s+n-1)`` explode on hot positions
    only, and the final reassembly is one doc-keyed aggregate.
    """
    # tokenized base feeds three consumers (token stream, positional grams,
    # per-doc totals) and the positional gram stream two (doc-frequency
    # census + hot-gram coverage join): materialize each once via lazy
    # localCheckpoint (self-cleaning) instead of re-splitting/re-generating
    # per branch.  At larger corpora the gram materialization is bounded by
    # the token count and spills MEMORY_AND_DISK; the alternative — two
    # full regenerations of the gram stream — costs more than the spill.
    base = df.select(
        F.col(id_col),
        words_col(text_col).alias("_ws"),
    ).localCheckpoint(eager=False)
    toks = base.select(
        id_col, F.posexplode("_ws").alias("pos", "word")
    )
    gp = base.select(
        id_col,
        F.explode(F.expr(_pos_grams_expr("_ws", n))).alias("_g"),
    ).select(
        id_col, F.col("_g.s").alias("s"), F.col("_g.gram").alias("gram")
    ).localCheckpoint(eager=False)
    hot = (
        gp.select("gram", id_col)
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select("gram")
    )
    covered = (
        gp.join(hot, "gram")
        .select(
            id_col,
            F.explode(F.sequence(F.col("s"), F.col("s") + (n - 1))).alias("pos"),
        )
        .distinct()
    )
    kept = toks.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda st: st.word,
            ),
            " ",
        ).alias("new_text"),
    )
    totals = base.select(
        id_col, F.size("_ws").cast("long").alias("n_tokens")
    )
    return totals.join(rebuilt, id_col, "left").select(
        id_col,
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce("new_text", F.lit("")).alias("new_text"),
    )
