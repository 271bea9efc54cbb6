"""Similarity search over embedding columns (array<float>).

* ``cosine_topk``   — brute-force baseline: JVM-side ``zip_with``/``aggregate``
  dot products (whole-stage codegen, no Python), TakeOrderedAndProject top-k.
* ``cosine_pairs``  — thresholded near-dup pair scan (small n / oracle path).
* ``lsh_topk``      — the scale path: multi-table sign-LSH (deterministic ±1
  hyperplanes) prunes to vectors sharing a bucket with the query in any
  table, then reranks them exactly; recall traded via tables and bits.
  ``lsh_ann_join`` is its many-query batch form, a (tbl, bucket) equi-join.

Expressions are built as SQL text from column names and parsed once
(``F.expr`` / ``selectExpr``): one driver-to-JVM call per expression.

All float math is promoted to double element-wise in a fixed left-to-right
fold so results are bit-stable and match the DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a: str, b: str) -> str:
    """SQL: dot product of array columns ``a`` and ``b``, each element
    promoted to double, summed in one left-to-right fold."""
    prod = "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)"
    return f"aggregate(zip_with({a}, {b}, {prod}), 0D, (acc, v) -> acc + v)"


def _cosine(a: str, b: str) -> str:
    return f"{_dot(a, b)} / (sqrt({_dot(a, a)}) * sqrt({_dot(b, b)}))"


def cosine_col(a: str, b: str) -> Column:
    """Cosine of array columns ``a`` and ``b`` (column names)."""
    return F.expr(_cosine(a, b))


def _rerank_topk(
    cand: DataFrame, k: int, id_col: str, vec_col: str, query_vec_col: str = "q"
) -> DataFrame:
    """Exact cosine of every candidate row, top-k by (cos desc, id asc)."""
    scored = cand.selectExpr(
        id_col, f"round({_cosine(vec_col, query_vec_col)}, 6) AS cos"
    )
    return scored.orderBy(F.desc("cos"), F.asc(id_col)).limit(k)


def cosine_topk(
    df: DataFrame, query: DataFrame, k: int = 10, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by cosine to a single query vector (query: 1-row df, column q)."""
    return _rerank_topk(df.crossJoin(F.broadcast(query)), k, id_col, vec_col)


def cosine_pairs(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.8,
) -> DataFrame:
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("_c", cosine_col("va", "vb"))
        .filter(F.col("_c") >= threshold)
        .select("id_a", "id_b", F.round("_c", 6).alias("cos"))
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (scale path)
# ---------------------------------------------------------------------------
# Published LSH operating points (BENCH/ann_calibration.py sweep over the
# planted-near-neighbor fixture, synth.gen_planted_vectors: median true-
# neighbor cos 0.917 — the regime ANN dedup/search targets; BENCH/
# ann_recall.json has the full recall-vs-candidate-count curve):
#   * 8 tables × 6 bits  — recall@3 1.00 planted (0.25+ measured on the
#     random near-orthogonal worst case), candidates 13.7% of index; the
#     oracle-replayable config used by q29/q47.
#   * HIGH_RECALL 16 × 8 — recall@3 1.00 planted at 8.2% candidates; the
#     scale preset for ANN dedup (asserted ≥ 0.9 in
#     tests/test_similarity_ops.py::test_lsh_high_recall_preset_on_planted).
LSH_HIGH_RECALL = {"n_tables": 16, "n_bits": 8}


# -- deterministic ±1 (Rademacher) hyperplanes -------------------------------
# Sign-random-projection with ±1 plane entries is an equally valid cosine-LSH
# family, and — unlike float Gaussian planes — both the plane values and the
# sign computation are exactly expressible in ANSI SQL, so the driver oracle
# can recompute the ENTIRE bucketing + candidate join + rerank in DuckDB and
# check the engine's implementation end-to-end (recall vs brute force is
# measured separately in tests/test_similarity_ops.py).
def rademacher_planes(n_tables: int, n_bits: int, dim: int) -> list[list[list[int]]]:
    """planes[l][k][d] ∈ {-1, +1}, a pure function of (l, k, d) via md5."""
    from hashlib import md5 as _md5

    out = []
    for l in range(n_tables):
        table = []
        for k in range(n_bits):
            # expand to dim bits deterministically: md5(l,k,chunk) per 128 bits
            bits: list[int] = []
            chunk = 0
            while len(bits) < dim:
                hh = _md5(f"lshplane-{l}-{k}-{chunk}".encode()).digest()
                for byte in hh:
                    for b in range(8):
                        bits.append(1 if (byte >> b) & 1 else -1)
                chunk += 1
            table.append(bits[:dim])
        out.append(table)
    return out


def planes_sql_literal(planes: list[list[list[int]]]) -> list[str]:
    """Per-table SQL list-of-lists literals (for the DuckDB oracle); emitted
    as DOUBLE literals so list_dot_product sees the same types as the engine."""
    return [
        "["
        + ", ".join(
            "[" + ", ".join(f"{float(v):.1f}" for v in k) + "]" for k in table
        )
        + "]"
        for table in planes
    ]


def make_multi_bucket_udf(planes: list[list[list[int]]]):
    """pandas UDF: vector -> array of per-table packed sign buckets.

    One Arrow batch = one numpy pass.  Each dot product is accumulated with
    ``np.cumsum`` along the dim axis — SEQUENTIAL left-to-right IEEE
    rounding, bit-identical to the oracle's list_dot_product fold (a matmul
    would sum pairwise and could flip a sign on a knife-edge dot)."""
    mats = np.asarray(planes, dtype=np.float64)  # (L, nbits, dim)
    n_tables, n_bits, _dim = mats.shape
    flat = mats.reshape(n_tables * n_bits, _dim)
    weights = (1 << np.arange(n_bits)).astype(np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vs: pd.Series) -> pd.Series:
        n = len(vs)
        if n == 0:
            return pd.Series([], dtype=object)
        out = np.empty((n, n_tables), dtype=np.int64)
        chunk = 1024  # bound the (chunk, L*nbits, dim) intermediate
        for s in range(0, n, chunk):
            m = np.stack(
                [np.asarray(v, dtype=np.float64) for v in vs.iloc[s : s + chunk]]
            )
            prods = m[:, None, :] * flat[None, :, :]
            dots = np.cumsum(prods, axis=2)[:, :, -1]
            signs = (dots > 0).reshape(m.shape[0], n_tables, n_bits)
            out[s : s + m.shape[0]] = signs @ weights
        return pd.Series(out.tolist())

    return buckets


def with_lsh_buckets(
    df: DataFrame, planes: list[list[list[int]]], vec_col: str = "embedding"
) -> DataFrame:
    """Explode df to one row per (row, table) with that table's bucket —
    the multi-table candidate index.  At 100 TB this is precomputed and the
    table is WRITTEN bucketed/partitioned on (tbl, bucket) so the candidate
    join below is co-partitioned (no shuffle of the big side)."""
    udf = make_multi_bucket_udf(planes)
    return (
        df.withColumn("_bks", udf(vec_col))
        .select("*", F.posexplode("_bks").alias("tbl", "bucket"))
        .drop("_bks")
    )


def lsh_ann_join(
    index: DataFrame,
    queries: DataFrame,
    planes: list[list[list[int]]],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "q",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Batch ANN: bucketed docs-vs-queries equi-join top-k per query.

    Both sides go through the same multi-table sign-bucketing; candidates are
    same-(tbl, bucket) pairs (equi-join, never a cross product), dedup'd
    across tables, exactly reranked by cosine, top-k per query by window.
    With ``broadcast_queries`` (the search-serving shape) the index side never
    shuffles; for doc-vs-doc scale both sides are pre-bucketed on
    (tbl, bucket) so the join is co-partitioned and a hot bucket splits under
    AQE skew join.  Returns (query_id, vec_id, cos, rank)."""
    bi = with_lsh_buckets(index, planes, vec_col).select(
        "tbl", "bucket", F.col(id_col), F.col(vec_col)
    )
    bq = with_lsh_buckets(queries, planes, query_vec_col).select(
        "tbl", "bucket", F.col(query_id_col), F.col(query_vec_col)
    )
    if broadcast_queries:
        bq = F.broadcast(bq)
    # score BEFORE the cross-table dedup: a pair that meets in several
    # tables scores identically each time, so dropDuplicates after the
    # cosine keeps the same rows while the dedup exchange carries
    # (query_id, vec_id, cos) — a few bytes — instead of two dim-sized
    # vectors per candidate (guide: shuffle metadata, not payloads)
    scored = (
        bi.join(bq, ["tbl", "bucket"])
        .selectExpr(
            query_id_col,
            id_col,
            f"round({_cosine(vec_col, query_vec_col)}, 6) AS cos",
        )
        .dropDuplicates([query_id_col, id_col])
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# IVF-flat ANN (coarse-quantizer cells + probe-and-rerank) — the second scale
# path next to sign-LSH.  Real IVF trains centroids with k-means; here the
# coarse quantizer is data-sampled (fixed centroid rows), which keeps the
# whole pipeline exactly SQL-expressible so the driver oracle can replay it
# (swap in KMeans-fitted centroids on a real cluster — the dataflow below is
# unchanged: assign is one pass, probe prunes cells, rerank is exact).
# ---------------------------------------------------------------------------
def _sqdist(v: str, c: str) -> str:
    """SQL: ‖v-c‖² = v·v - 2·v·c + c·c with a fixed op order (oracle mirror)."""
    return f"{_dot(v, v)} - {_dot(v, c)} * 2.0D + {_dot(c, c)}"


def make_ivf_assign_udf(centroids: list[tuple[int, list[float]]]):
    """pandas UDF: vector -> nearest centroid cell id (tie -> smaller id).

    Distances use the same sequential-fold dot products as the SQL oracle
    (cumsum, not matmul — see make_multi_bucket_udf)."""
    cids = [c for c, _ in centroids]
    cmat = np.asarray([v for _, v in centroids], dtype=np.float64)  # (k, dim)

    def _seq_dots(m: np.ndarray, c: np.ndarray) -> np.ndarray:
        # sequential per-element accumulation: (n, k) dots of rows×centroids
        prods = m[:, None, :] * c[None, :, :]
        return np.cumsum(prods, axis=2)[:, :, -1]

    cc = np.array(
        [np.cumsum(row * row)[-1] for row in cmat], dtype=np.float64
    )  # (k,)

    @F.pandas_udf(T.IntegerType())
    def assign(vs: pd.Series) -> pd.Series:
        n = len(vs)
        if n == 0:
            return pd.Series([], dtype="int32")
        out = np.empty(n, dtype=np.int32)
        ids = np.asarray(cids)
        chunk = 2048
        for s in range(0, n, chunk):
            m = np.stack(
                [np.asarray(v, dtype=np.float64) for v in vs.iloc[s : s + chunk]]
            )
            vv = np.cumsum(m * m, axis=1)[:, -1]  # (c,)
            vc = _seq_dots(m, cmat)  # (c, k)
            d2 = vv[:, None] - 2.0 * vc + cc[None, :]
            # argmin with smaller-centroid-id tie-break: ids are sorted, and
            # np.argmin returns the first minimum
            order = np.argsort(ids)
            d2o = d2[:, order]
            out[s : s + m.shape[0]] = ids[order][np.argmin(d2o, axis=1)]
        return pd.Series(out)

    return assign


def ivf_topk(
    index: DataFrame,
    query: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "q",
) -> DataFrame:
    """IVF-flat single-query ANN: score only vectors whose cell is among the
    query's n_probe nearest centroid cells, exact cosine rerank, top-k.

    At 100 TB the cell id is a persisted partition column, so the probe is a
    partition-pruned scan — nothing else is read."""
    assign = make_ivf_assign_udf(centroids)
    cells = index.withColumn("_cell", assign(vec_col))
    # query's n_probe nearest cells, computed on the (tiny) centroid list
    spark = index.sparkSession
    cdf = spark.createDataFrame(
        [(c, [float(x) for x in v]) for c, v in centroids], "cid int, cvec array<double>"
    )
    qcells = (
        cdf.crossJoin(F.broadcast(query))
        .withColumn("_d2", F.expr(_sqdist(query_vec_col, "cvec")))
        .orderBy(F.asc("_d2"), F.asc("cid"))
        .limit(n_probe)
        .select(F.col("cid").alias("_cell"))
    )
    cand = cells.join(F.broadcast(qcells), "_cell").crossJoin(F.broadcast(query))
    return _rerank_topk(cand, k, id_col, vec_col, query_vec_col)


def lsh_topk(
    df: DataFrame,
    query: DataFrame,
    dim: int,
    k: int = 10,
    n_tables: int = 4,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Single-query ANN over the multi-table sign-LSH index: score only
    vectors sharing a bucket with the query in ANY table (multi-table union
    trades candidates for recall; n_bits trades bucket selectivity).

    The same prune-then-rerank shape as ``cosine_topk`` and ``ivf_topk``:
    each side's bucket array is computed in one UDF pass, the one-row query
    is broadcast to every row, and a row stays when any table's buckets
    match — no explode, no shuffle, no window (``lsh_ann_join`` keeps the
    (tbl, bucket) equi-join for many queries)."""
    buckets = make_multi_bucket_udf(rademacher_planes(n_tables, n_bits, dim))
    q = query.select("q", buckets("q").alias("_qb"))
    cand = (
        df.withColumn("_b", buckets(vec_col))
        .crossJoin(F.broadcast(q))
        .filter("exists(zip_with(_b, _qb, (a, b) -> a = b), m -> m)")
    )
    return _rerank_topk(cand, k, id_col, vec_col)
