"""Partitioned Bloom URL-seen filter (F3/M4).

The reference keeps one in-process ``BloomFilter(max_elements=10_000_000,
error_rate=0.001)`` (url_frontier.py:24) — in-RAM, lost on restart, and a
single-machine bottleneck.  At 10^10-URL scale the structure must be
distributed and durable, so here it is **sharded**: bucket =
xxhash64(url_hash) % B, one serialized bitset per bucket, persisted as a
snapshot-committed table (schemas.BLOOM_SHARDS) so a resumed job sees the
exact URL-seen state of the last committed round.

Membership-test + insert runs as ONE cogrouped ``applyInPandas`` pass:
candidates and shards are co-partitioned by bucket; each group tests its
candidates against its shard (double hashing from the sha256 url_hash — the
same hash the reference feeds its filter, url_frontier.py:55), emits the
unseen survivors, and emits the updated shard bytes.  Duplicate candidates
within a batch are processed in url-ascending order so the first occurrence
survives (matches add_url check-then-add semantics, url_frontier.py:58-63).

Sizing: per-shard m = ceil(-C·ln(p)/ln(2)^2), k = round((m/C)·ln2) with
C = capacity/buckets, p = fpr — the classic optimal-Bloom formulas.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import BLOOM_SHARDS

# candidate columns carried through the filter pass
_CAND_COLS = ["url", "url_hash", "host", "depth"]

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("url_hash", T.StringType(), True),
        T.StructField("host", T.StringType(), True),
        T.StructField("depth", T.IntegerType(), True),
        T.StructField("bitset", T.BinaryType(), True),
        T.StructField("n_items", T.LongType(), True),
    ]
)


@dataclass(frozen=True)
class BloomParams:
    capacity: int = 10_000_000
    fpr: float = 0.001
    buckets: int = 64

    @property
    def shard_capacity(self) -> int:
        return max(1, self.capacity // self.buckets)

    @property
    def m_bits(self) -> int:
        c = self.shard_capacity
        return int(math.ceil(-c * math.log(self.fpr) / (math.log(2) ** 2)))

    @property
    def k_hashes(self) -> int:
        return max(1, round((self.m_bits / self.shard_capacity) * math.log(2)))


def bucket_col(url_hash, buckets: int):
    return F.pmod(F.xxhash64(url_hash), F.lit(buckets)).cast("int")


def _bit_positions(url_hash_hex: str, k: int, m: int) -> list[int]:
    h1 = int(url_hash_hex[:16], 16)
    h2 = int(url_hash_hex[16:32], 16) | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _test_and_set(arr: np.ndarray, positions: list[int]) -> bool:
    """True if the item was already present; sets all bits either way."""
    present = True
    for p in positions:
        byte, bit = p >> 3, p & 7
        if not (arr[byte] >> bit) & 1:
            present = False
            arr[byte] |= 1 << bit
    return present


def empty_shards(spark, params: BloomParams, round_no: int = 0) -> DataFrame:
    nbytes = (params.m_bits + 7) // 8
    zero = bytes(nbytes)
    rows = [(b, zero, 0, round_no) for b in range(params.buckets)]
    return spark.createDataFrame(rows, BLOOM_SHARDS)


def filter_and_update(
    candidates: DataFrame, shards: DataFrame, params: BloomParams
) -> tuple[DataFrame, DataFrame, list[DataFrame]]:
    """(survivors, updated_shards, caches) in one cogrouped pass.

    ``candidates`` needs columns url, url_hash, host, depth.  Buckets with no
    candidates re-emit their shard unchanged (an overwrite commit must carry
    the full shard set).  Both frames are projections of ONE cached pass
    result, so the survivors and the shard write never rerun the UDF;
    ``caches`` holds that result for the caller to unpersist once both are
    consumed.
    """
    k, m = params.k_hashes, params.m_bits
    nbytes = (m + 7) // 8

    cand = candidates.select(*_CAND_COLS).withColumn(
        "bucket", bucket_col(F.col("url_hash"), params.buckets)
    )
    sh = shards.select("bucket", "bitset", "n_items")

    def process(key, cpdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(key[0])
        if len(spdf) > 0:
            arr = np.frombuffer(spdf["bitset"].iat[0], dtype=np.uint8).copy()
            n_items = int(spdf["n_items"].iat[0])
        else:
            arr = np.zeros(nbytes, dtype=np.uint8)
            n_items = 0
        out_rows = []
        if len(cpdf) > 0:
            cpdf = cpdf.sort_values("url")
            for r in cpdf.itertuples(index=False):
                if not _test_and_set(arr, _bit_positions(r.url_hash, k, m)):
                    n_items += 1
                    out_rows.append(
                        (bucket, r.url, r.url_hash, r.host, int(r.depth), None, None)
                    )
        out_rows.append((bucket, None, None, None, None, arr.tobytes(), n_items))
        return pd.DataFrame(out_rows, columns=_OUT_SCHEMA.fieldNames())

    out = (
        cand.groupBy("bucket")
        .cogroup(sh.groupBy("bucket"))
        .applyInPandas(process, schema=_OUT_SCHEMA)
    )
    out = out.cache()
    survivors = out.filter(F.col("url").isNotNull()).select(*_CAND_COLS)
    new_shards = out.filter(F.col("url").isNull()).select(
        "bucket", "bitset", "n_items"
    )
    return survivors, new_shards, [out]
