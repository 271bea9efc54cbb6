"""SparkSession factory with scale-aware defaults.

Local sandbox runs on ``local[N]`` (single JVM); on a real cluster the same
code runs under ``spark-submit --py-files`` with executor counts N / 4N — the
configs below (AQE, skew-join splitting, Arrow) are what the 100 TB plan
needs and are harmless locally.
"""

from __future__ import annotations

import os

# module-level: _warm_start's pandas UDF annotates with pd.Series, and with
# ``from __future__ import annotations`` those hints are STRINGS resolved
# against THIS module's globals at decoration time — a function-local import
# leaves them unresolvable and pandas_udf raises UNSUPPORTED_SIGNATURE
import pandas as pd
from pyspark.sql import SparkSession

# directory that holds the package: python workers get it on their
# PYTHONPATH, so their imports never depend on the driver's working directory
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "adavnceseo_crawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        # local mode: match core count, not the 200 default
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = 32 if inner == "*" else max(8, int(inner))
        else:
            shuffle_partitions = 200
    # default driver heap: a quarter of physical memory, so it fits the host
    ram_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom-filter join pruning: the scheduled-batch side of the
        # fetch join injects a bloom into the web-table scan (SURVEY.md §4).
        # NB: do NOT also set runtimeFilter.semiJoinReduction — it hangs all
        # job scheduling on this Spark 4.1.2 build (verified: even
        # range(3).count() never returns with it enabled).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        # the SQL status store keeps every finished execution's plan and
        # metrics (1000 by default), ~0.65 MB each; a crawl round runs ~15
        # and, with the UI off, nothing reads them, so they only pin driver
        # heap.  spark.ui.retainedJobs stays: count_jobs and statusTracker
        # read the job store
        .config("spark.sql.ui.retainedExecutions", "10")
        # python workers fork from the package's daemon, which spares each
        # task a re-read of pyspark.zip's directory (see worker_daemon.py)
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{ram_mib // 4}m"),
        )
    )
    conf = dict(extra_conf or {})
    key = "spark.executorEnv.PYTHONPATH"
    conf[key] = os.pathsep.join(p for p in (_PACKAGE_ROOT, conf.get(key)) if p)
    # the rule adds isnotnull(x) AND size(x) > 0 under a non-outer explode of
    # x and pushes it below the projection that computes x, so x (a Python
    # UDF, a token split) is evaluated twice per row.  The filter only drops
    # rows the explode emits nothing for, so excluding it changes no row.
    key = "spark.sql.optimizer.excludedRules"
    rule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    conf[key] = ",".join(r for r in (rule, conf.get(key)) if r)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_start(spark)
    return spark


def _warm_start(spark: SparkSession) -> None:
    """One-time per-session JVM/codegen/worker warm-up.

    The first query of a fresh session pays JIT compilation of the whole
    scan→codegen→noop path, parquet reader/writer class loading, and the
    Arrow python-worker pool spin-up — measured ~4 s charged to whatever
    query happens to run first (local[32], sf0.1: the first aggregate query
    drops 5.2 s → 1.0 s once these paths are hot).  Touches NO input data:
    a 1000-row synthetic parquet roundtrip in a temp dir, one shuffle
    aggregate into the noop sink, one trivial pandas UDF across all cores
    (the worker pool) and one ``mapInPandas`` pass (the parse path): paths
    both the crawl and the analytics UDFs take.  Rarer paths (the decode
    queries' binary Arrow reader) pay their first use in their own query.
    A failing pass raises: it would fail the same way in the first query."""
    if getattr(spark, "_graft_warmed", False):
        return
    spark._graft_warmed = True
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix="spark_graft_warm_")
    try:
        spark.range(1000, numPartitions=4).selectExpr(
            "id", "cast(id as string) s", "cast(id as double) x"
        ).write.mode("overwrite").parquet(f"{d}/t")
        spark.read.parquet(f"{d}/t").groupBy("s").agg(
            F.sum("x")
        ).write.mode("overwrite").format("noop").save()

        @F.pandas_udf("long")
        def _noop(s: pd.Series) -> pd.Series:
            return s

        cores = spark.sparkContext.defaultParallelism
        spark.range(cores * 4, numPartitions=cores).select(
            _noop(F.col("id"))
        ).count()

        # MAP_PANDAS is a separate JVM eval path (FlatMapInPandas) from the
        # scalar pandas UDF above, and the decode/parse operators' first
        # task additionally pays the worker-side import of numpy + the
        # codec modules (~0.4 s per worker) — warm both here so the first
        # real mapInPandas query doesn't (measured: q83's first execution
        # carried ~2-3 s of exactly this).  Imports only; computes nothing.
        def _warm_map(batches):
            # absolute import: the closure is pickled by value, so relative
            # resolution against session.py's package is not guaranteed
            from adavnceseo_crawler_spark.operators import (  # noqa: F401
                multimodal,
            )

            for b in batches:
                yield b

        spark.range(cores, numPartitions=cores).mapInPandas(
            _warm_map, "id long"
        ).count()
    finally:
        shutil.rmtree(d, ignore_errors=True)
