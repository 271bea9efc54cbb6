"""Deduplication operators for the training-data pipeline.

Exact, MinHash+LSH, SimHash, and token-set Jaccard — all expressed as
DataFrame dataflows (shuffle-on-key, map-side combine); MinHash/SimHash
signatures are computed in vectorized pandas UDFs (numpy batch math), the
banding/bucketing joins stay JVM-side.

Scale notes (100 TB): the LSH paths avoid the O(n²) pair space — candidates
only form within equal (band, band-hash) buckets; exact dedup is a single
hash-aggregate.  Brute-force Jaccard is provided for oracle checks at small n.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd

# the vectorized simhash kernel reinterprets uint64 hash words as
# byte arrays (``.view(np.uint8)`` before unpackbits, and ``packbits(...)
# .view(np.uint64)`` to reassemble) — that round-trip is only bit-stable on
# little-endian hosts, and the DuckDB oracles assume the same layout.
assert sys.byteorder == "little", (
    "dedup signature kernels require a little-endian host (uint64<->uint8 "
    "view round-trips); use explicit '<u8' dtypes to port to big-endian"
)
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per exact text hash (hash-groupBy dedup)."""
    w = Window.partitionBy("text_hash").orderBy(F.asc(id_col))
    return (
        df.withColumn("text_hash", F.md5(F.col(text_col)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def jaccard_pairs(
    tokens: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "word",
    threshold: float = 0.8,
) -> DataFrame:
    """Token-set Jaccard similarity pairs ≥ threshold.

    Input: exploded (id, token) rows.  shared/(|A|+|B|-shared) via a
    self-equi-join on token — the join explodes on very frequent tokens, so at
    scale feed this only LSH candidate pairs (see minhash_verified_pairs)."""
    g = tokens.select(id_col, token_col).distinct()
    sizes = g.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = g.select(F.col(id_col).alias("id_a"), F.col(token_col).alias("tok"))
    b = g.select(F.col(id_col).alias("id_b"), F.col(token_col).alias("tok"))
    pairs = (
        a.join(b, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    j = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jac",
            F.col("shared") * 1.0 / (F.col("na") + F.col("nb") - F.col("shared")),
        )
    )
    return j.filter(F.col("jac") >= threshold).select(
        "id_a", "id_b", F.round("jac", 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
def _hash_params(n_hashes: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    """(a, b) for the hash family h_i(x) = a_i*x + b_i mod 2^64 with a_i odd —
    a bijection on uint64, so min over images is a valid MinHash permutation
    approximation; pure wraparound arithmetic, no big-int mod."""
    rng = np.random.RandomState(seed)  # fixed seed: signatures are deterministic
    a = (rng.randint(0, 1 << 62, size=n_hashes).astype(np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.randint(0, 1 << 62, size=n_hashes).astype(np.uint64)
    return a, b


def _band_buckets(sig: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    assert n_hashes % bands == 0
    rows = n_hashes // bands
    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.slice(F.col("sig"), b * rows + 1, rows).cast("string")
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def _bucket_pairs(banded: DataFrame, max_bucket: int | None) -> DataFrame:
    """(id, band, bucket) -> distinct candidate pairs (id_a < id_b).

    With ``max_bucket``, oversized buckets emit only member-vs-min-id STAR
    pairs (linear in bucket size) instead of all-pairs — the rail against
    degenerate boilerplate buckets; see minhash_verified_pairs for the
    measured failure this prevents.  The census aggregation rides the same
    (band, bucket) shuffle as the self-join."""
    if max_bucket is not None:
        census = banded.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("bn"), F.min("id").alias("rep")
        )
        banded = banded.join(census, ["band", "bucket"])
        small = banded.filter(F.col("bn") <= max_bucket)
        star = banded.filter(
            (F.col("bn") > max_bucket) & (F.col("id") != F.col("rep"))
        ).select(
            F.col("rep").alias("id_a"), F.col("id").alias("id_b")
        )  # rep = min(id) ⇒ id_a < id_b already
    else:
        small, star = banded, None
    a = small.select(F.col("id").alias("id_a"), "band", "bucket")
    b = small.select(F.col("id").alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if star is not None:
        cand = cand.unionByName(star)
    return cand.distinct()


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash_pure(text: str) -> int:
    """Readable per-token reference of the signature (tests assert the
    vectorized UDF matches this exactly).  Token hash = first 16 hex chars of
    md5 — chosen because md5 exists in both Spark and DuckDB, so the DRIVER
    ORACLE can recompute signatures in pure SQL (queries.q27)."""
    from hashlib import md5 as _md5

    if not text:
        return 0
    acc = [0] * 64
    for tok in text.split():
        h = int(_md5(tok.encode("utf-8")).hexdigest()[:16], 16)
        for k in range(64):
            acc[k] += 1 if (h >> k) & 1 else -1
    val = sum(1 << k for k in range(64) if acc[k] > 0)
    return val - (1 << 64) if val >= 1 << 63 else val


def make_simhash_udf():
    """pandas UDF: text -> 64-bit SimHash over whitespace tokens.

    Vectorized: each Arrow batch md5-hashes its UNIQUE tokens once (the
    vocabulary is far smaller than the token stream), unpacks their bit
    matrix, and accumulates all documents' ±1 contributions with one
    ``np.add.at`` over the (doc, 64) accumulator — no per-token Python in
    the hot loop (the round-1 per-token/per-row loop was the slowest stage
    of the simhash path at scale)."""
    from hashlib import md5 as _md5

    @F.pandas_udf(T.LongType())
    def simhash(texts: pd.Series) -> pd.Series:
        tok_lists = [t.split() if t else [] for t in texts]
        vocab: dict[str, int] = {}
        tok_ids: list[int] = []
        doc_ids: list[int] = []
        for i, tl in enumerate(tok_lists):
            for tok in tl:
                j = vocab.setdefault(tok, len(vocab))
                tok_ids.append(j)
                doc_ids.append(i)
        n_docs = len(texts)
        out = np.zeros(n_docs, dtype=np.int64)
        if vocab:
            hs = np.empty(len(vocab), dtype=np.uint64)
            for tok, j in vocab.items():
                hs[j] = np.uint64(int(_md5(tok.encode("utf-8")).hexdigest()[:16], 16))
            # (U, 64) bit matrix, column k = bit k of the hash -> ±1
            pm = (
                np.unpackbits(
                    hs.view(np.uint8).reshape(len(vocab), 8), axis=1, bitorder="little"
                ).astype(np.int32)
                * 2
                - 1
            )
            acc = np.zeros((n_docs, 64), dtype=np.int64)
            if tok_ids:
                np.add.at(
                    acc,
                    np.asarray(doc_ids, dtype=np.int64),
                    pm[np.asarray(tok_ids, dtype=np.int64)],
                )
            bits = (acc > 0).astype(np.uint8)
            out = (
                np.packbits(bits, axis=1, bitorder="little")
                .view(np.uint64)
                .reshape(n_docs)
                .view(np.int64)
                .copy()
            )
            # all-empty docs have acc == 0 -> signature 0 (matches simhash_pure)
        return pd.Series(out, dtype="int64")

    return simhash


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 16,
    max_hamming: int = 9,
) -> DataFrame:
    """EXACT near-dup pairs with Hamming(simhash) ≤ max_hamming via banded LSH.

    Pigeonhole: two signatures within Hamming distance (bands-1) agree on at
    least one full band, so the band equi-join is a guaranteed superset of all
    pairs with hamming ≤ bands-1 — the hamming filter then makes the result
    exact (not probabilistic).  Requires max_hamming ≤ bands-1.  At 100 TB use
    wider bands / lower max_hamming (candidates grow as bands narrow)."""
    assert 64 % bands == 0
    width = 64 // bands
    assert max_hamming <= bands - 1, "pigeonhole guarantee needs max_hamming <= bands-1"
    mask = (1 << width) - 1
    sh = df.select(
        F.col(id_col).alias("id"), make_simhash_udf()(F.col(text_col)).alias("sh")
    )
    band_structs = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftrightunsigned(F.col("sh"), i * width)
            .bitwiseAND(F.lit(mask))
            .alias("bits"),
        )
        for i in range(bands)
    ]
    banded = sh.select(
        "id", "sh", F.explode(F.array(*band_structs)).alias("bb")
    ).select("id", "sh", "bb.band", "bb.bits")
    a = banded.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), "band", "bits")
    b = banded.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), "band", "bits")
    pairs = (
        a.join(b, ["band", "bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    return (
        pairs.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# token-set MinHash + LSH with exact verification (the standard dedup pipeline)
# ---------------------------------------------------------------------------
def make_token_minhash_udf(
    n_hashes: int = 64,
    seed: int = 42,
    min_len: int = 3,
    stopwords: tuple[str, ...] = (),
):
    """pandas UDF: text -> array<long> MinHash signature over the NORMALIZED
    UNIGRAM TOKEN SET (lowercase, split on [^a-z0-9]+, len ≥ min_len, minus
    stopwords) — the same feature space as the exact-Jaccard verification, so
    estimate and truth measure the same similarity.  Vectorized like the
    simhash UDF: md5 the batch's unique tokens once, then per-doc min via
    ``np.minimum.reduceat`` over contiguous doc segments."""
    import re as _re
    from hashlib import md5 as _md5

    a_p, b_p = _hash_params(n_hashes, seed)
    stop = frozenset(stopwords)
    split_re = _re.compile(r"[^a-z0-9]+")

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def minhash(texts: pd.Series) -> pd.Series:
        vocab: dict[str, int] = {}
        doc_tok_ids: list[list[int]] = []
        for t in texts:
            toks = (
                {
                    w
                    for w in split_re.split(t.lower())
                    if len(w) >= min_len and w not in stop
                }
                if t
                else set()
            )
            doc_tok_ids.append([vocab.setdefault(w, len(vocab)) for w in sorted(toks)])
        if vocab:
            hs = np.empty(len(vocab), dtype=np.uint64)
            for tok, j in vocab.items():
                hs[j] = np.uint64(int(_md5(tok.encode("utf-8")).hexdigest()[:16], 16))
        out = []
        empty_sig = [0] * n_hashes
        for ids in doc_tok_ids:
            if not ids:
                out.append(empty_sig)
                continue
            with np.errstate(over="ignore"):
                sig = (hs[ids][None, :] * a_p[:, None] + b_p[:, None]).min(axis=1)
            out.append([int(x) for x in sig.view(np.int64)])
        return pd.Series(out)

    return minhash


def minhash_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    n_hashes: int = 64,
    bands: int = 32,
    stopwords: tuple[str, ...] = (),
    min_len: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidates verified with EXACT token-set Jaccard ≥ threshold.

    rows_per_band = n_hashes/bands = 2 ⇒ P(a J=0.9 pair misses every band) =
    (1-0.81)^32 ≈ 1e-23 — at the chosen threshold the output equals the
    brute-force truth (the driver oracle checks exactly that).  The exact
    verification joins each candidate pair to the two docs' token arrays and
    computes |A∩B| JVM-side (array_intersect) — cost linear in candidates,
    never O(n²) ... in the number of DOCS.  It is still quadratic in the
    size of a single band bucket, and real web corpora produce degenerate
    buckets: a boilerplate passage shared by k docs puts all k in ONE
    bucket whenever both of a band's minhashes land on passage tokens
    (measured on the scaling corpus: k ≈ 5.7% of docs ⇒ 57k-doc buckets at
    1M docs ⇒ 1.6e9 candidate pairs from one bucket, none of which survive
    verification).  ``max_bucket`` is the scale rail: buckets larger than
    it emit only STAR pairs (every member vs the bucket's min-id
    representative, linear in k) instead of all k²/2 pairs.  A true
    J≥threshold pair still meets in a small bucket keyed by its own tokens
    with prob ≈ J² per band (32 tries), so capped output equals uncapped
    on corpora whose near-dup clusters are smaller than max_bucket (the
    scaling corpus: verified on its synth slice).  When a cluster DOES
    outgrow max_bucket, capped edges are a SUBSET of uncapped edges, so
    downstream components only ever REFINE (split, never merge): members
    within threshold of the bucket representative stay connected through
    it, but a CHAIN-shaped cluster (a~b, b~c, J(a,c) < threshold) linked
    only inside oversized buckets can split — measured on the driver
    documents table, which packs ~100-doc near-cliques.  For dedup that
    direction is conservative (under-deletes, never merges unrelated
    docs).  Default None preserves exact all-pairs semantics (the q26
    oracle path)."""
    # materialize once: the banded table feeds up to three consumers (bucket
    # census, both self-join sides) — without the cut the Arrow minhash UDF
    # recomputes per branch (measured: 3 scans + 3 UDF passes in the
    # physical plan).  Lazy localCheckpoint, not cache(): blocks are freed
    # by the ContextCleaner when the query's plan is dropped, so repeated
    # runs don't accumulate pinned executor memory (ADVICE r5).
    sig = df.select(
        F.col(id_col).alias("id"),
        make_token_minhash_udf(n_hashes, 42, min_len, stopwords)(
            F.col(text_col)
        ).alias("sig"),
    ).localCheckpoint(eager=False)
    cand = _bucket_pairs(_band_buckets(sig, n_hashes, bands), max_bucket)
    # exact verification on the same normalized token sets
    def keep(w):
        cond = F.length(w) >= min_len
        if stopwords:
            cond = cond & ~w.isin(*stopwords)
        return cond

    toks = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            F.filter(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), keep)
        ).alias("toks"),
    ).localCheckpoint(eager=False)  # tokenize once, reuse for both join sides
    ta = toks.select(F.col("id").alias("id_a"), F.col("toks").alias("toks_a"))
    tb = toks.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b"))
    j = (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("shared", F.size(F.array_intersect("toks_a", "toks_b")))
        .withColumn(
            "jaccard",
            F.col("shared")
            * 1.0
            / (F.size("toks_a") + F.size("toks_b") - F.col("shared")),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def neardup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over a near-dup pair graph → ``(id, canonical)``
    for every node that appears in a pair, where ``canonical`` is the
    smallest id in the node's component.  This is the standard final step of
    corpus dedup (reference has no analog — task-mandated LLM-pipeline
    surface): LSH emits PAIRS, but dropping one side of each pair
    independently over-deletes (a-b and b-c would drop b and c, losing a
    transitive group's single survivor); grouping first keeps exactly one
    representative per duplicate cluster.

    Algorithm: distributed min-label propagation over the SELF-LOOPED
    symmetric edge set.  Adding (v, v) edges folds a node's own label into
    the neighbor minimum, so one iteration is ONE shuffle join (edges ⋈
    labels on src) + ONE groupBy(dst)-min — the round-5 shape needed a
    third exchange (a second labels join to mix the old label back in).
    The initial labels are the FUSED first iteration: with self-loops,
    comp_1(v) = min(u : u ∈ N(v) ∪ {v}) = min(src) grouped by dst — a
    single aggregation instead of an identity-label materialization plus a
    join round (two fewer jobs end-to-end; at small corpus sizes per-job
    fixed cost dominates this operator's wall).  Labels only ever
    decrease, so ``sum(comp)`` strictly decreases while any label changes;
    convergence is detected from that single scalar (no extra
    per-iteration comparison join).  ``localCheckpoint`` truncates the
    lineage each round, keeping plan size constant over iterations.

    Iterations = graph diameter.  Near-dup graphs are band-induced
    near-cliques (diameter ~2-3 in practice, 5835 pairs / ~500 docs on the
    driver corpus converge in 3), so propagation beats the
    alternating-star contraction (Kiveris et al., "Connected Components in
    MapReduce and Beyond") here; that O(log n)-round algorithm is the
    documented fallback for adversarial long-path graphs (``max_iter``
    guards the loop either way)."""
    e0 = pairs.select(
        F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
    )
    sym = e0.union(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # self-loops: every node appears as src of the symmetric set
    edges = (
        sym.union(sym.select("src", F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # fused iteration 1 (comp = min over N(v) ∪ {v}); LAZY checkpoint — the
    # convergence-sum action below materializes it in the same job
    labels = (
        edges.groupBy(F.col("dst").alias("id"))
        .agg(F.min("src").alias("comp"))
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(F.sum("comp")).first()[0]
    for _ in range(max_iter - 1):
        labels = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=False)
        )
        s = labels.agg(F.sum("comp")).first()[0]
        if s == prev_sum:
            break
        prev_sum = s
    return labels


def dedup_keep_canonical(
    df: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one representative per near-dup cluster: drop every row whose id
    has a component label smaller than itself (the canonical member has
    ``comp == id``).  Left-anti join against the non-canonical id set — rows
    not in any pair pass through untouched."""
    losers = components.filter(F.col("comp") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def line_dedup(
    df: DataFrame,
    sep: str = "\n",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style cross-corpus line deduplication (Raffel et al. 2020 §2.2):
    every line survives only at its FIRST occurrence in the corpus (min
    ``id_col``, then min position within the document); all later copies —
    boilerplate footers, cookie banners, repeated navigation — are removed
    and each document is reassembled from its surviving lines in order.

    Output: ``doc_id, n_lines, kept_lines, new_text`` for EVERY input row
    (``new_text = ''`` when nothing survives).

    Scale shape: one posexplode, one window keyed by the line text (the
    only shuffle — at 100 TB key by ``xxhash64(line)`` instead to shrink
    shuffle rows to 8-byte keys; collision risk is the standard birthday
    bound), then a groupBy(doc) reassembly keyed like the explode, and a
    final join back to the per-doc base.  No driver-side state.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep, -1)).alias("pos", "line"),
    )
    w = Window.partitionBy("line").orderBy(id_col, "pos")
    kept = (
        lines.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("kept_lines"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s.line,
            ),
            sep,
        ).alias("new_text"),
    )
    base = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), sep, -1)).cast("long").alias("n_lines"),
    )
    return base.join(rebuilt, id_col, "left").select(
        id_col,
        "n_lines",
        F.coalesce("kept_lines", F.lit(0)).alias("kept_lines"),
        F.coalesce("new_text", F.lit("")).alias("new_text"),
    )


def boilerplate_strip(
    df: DataFrame,
    group_col: str = "source",
    min_frac: float = 0.5,
    sep: str = "\n",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Site-template boilerplate removal by within-group line frequency
    (RefinedWeb / OSCAR rule): a line that occurs in at least ``min_frac``
    of a group's documents (group = host / source) is template chrome —
    navigation, cookie banner, footer — and is removed from EVERY document
    of that group.  Unlike :func:`line_dedup` (first occurrence survives
    corpus-wide), the frequency rule deletes all copies and never touches
    rare lines, so organic text that happens to repeat a few times is safe.

    Output: ``doc_id, n_lines, kept_lines, new_text`` for every input row.

    Scale shape: the doc-frequency aggregate runs on ``(group, line)``
    after an in-partition distinct on ``(group, line, doc)``; per-group doc
    totals are a broadcast (group cardinality = number of hosts' sources,
    small).  The flagged-line set is bounded above by
    ``total_lines / (min_frac * docs_per_group)`` — at web scale a few
    hundred templates per host — so the removal join BROADCASTS the flags
    and the corpus stream itself is never shuffled for the filter; the only
    corpus-wide shuffle is the per-doc reassembly.
    """
    lines = df.select(
        F.col(id_col),
        F.col(group_col),
        F.posexplode(F.split(F.col(text_col), sep, -1)).alias("pos", "line"),
    )
    totals = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("_ndocs")
    )
    flagged = (
        lines.select(group_col, "line", id_col)
        .distinct()
        .groupBy(group_col, "line")
        .agg(F.count(F.lit(1)).cast("long").alias("_df"))
        .join(F.broadcast(totals), group_col)
        # absolute floor: in a tiny group a fractional threshold degenerates
        # (50% of 2 docs = every line); template chrome must repeat across
        # at least ``min_docs`` documents to be believed
        .filter(
            F.col("_df")
            >= F.greatest(
                F.lit(float(min_frac)) * F.col("_ndocs"),
                F.lit(float(min_docs)),
            )
        )
        .select(group_col, "line")
    )
    kept = lines.join(F.broadcast(flagged), [group_col, "line"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("kept_lines"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s.line,
            ),
            sep,
        ).alias("new_text"),
    )
    base = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), sep, -1)).cast("long").alias("n_lines"),
    )
    return base.join(rebuilt, id_col, "left").select(
        id_col,
        "n_lines",
        F.coalesce("kept_lines", F.lit(0)).alias("kept_lines"),
        F.coalesce("new_text", F.lit("")).alias("new_text"),
    )
