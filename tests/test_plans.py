"""Physical-plan shape checks (SURVEY.md §4): broadcast joins where expected,
parquet filter pushdown, salted top-k equivalence under Zipf skew."""

import re

from pyspark.sql import Window
from pyspark.sql import functions as F

from adavnceseo_crawler_spark.operators.politeness import topk
from adavnceseo_crawler_spark.operators.robotsops import apply_robots
from adavnceseo_crawler_spark.synth import gen_robots


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_robots_join_is_broadcast(spark):
    cand = spark.createDataFrame(
        [("host0.example.com", "/tag/x"), ("host1.example.com", "/a")],
        "host string, path string",
    )
    robots = gen_robots(spark, 6)
    out = apply_robots(cand, robots)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_parquet_filter_pushdown(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .filter(F.col("l_shipdate") <= "1995-01-01")
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200], plan
    # column pruning: ReadSchema contains only the needed columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema, read_schema


def test_salted_topk_equals_single_stage_under_skew(spark):
    """Zipf-skewed hosts (FIXTURES.md skew_zipf): the two-stage salted
    per-host top-k must return exactly the single-stage window's rows."""
    n = 20_000
    df = (
        spark.range(n)
        .select(
            F.when(F.col("id") % 2 == 0, "hot.example.com")  # 50% on one host
            .otherwise(F.concat(F.lit("h"), (F.col("id") % 97).cast("string")))
            .alias("host"),
            F.concat(F.lit("https://u/"), F.col("id").cast("string")).alias("url"),
            (F.pmod(F.xxhash64("id"), F.lit(1000)) / 1000.0).alias("score"),
        )
        .cache()
    )
    budget = 7
    salted = topk(
        df, ("host",), budget, [F.desc("score"), F.asc("url")], salt_buckets=8
    )
    w = Window.partitionBy("host").orderBy(F.desc("score"), F.asc("url"))
    single = (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= budget)
        .drop("rn")
    )
    a = {(r["host"], r["url"]) for r in salted.collect()}
    b = {(r["host"], r["url"]) for r in single.collect()}
    assert a == b
    # politeness invariant under skew
    over = (
        salted.groupBy("host").count().filter(F.col("count") > budget).count()
    )
    assert over == 0
    df.unpersist()


def test_fetch_crawl_time_matches_python_mirror(spark):
    from adavnceseo_crawler_spark.operators.fetch import crawl_time_col
    from adavnceseo_crawler_spark.synth import crawl_time_of

    urls = [f"https://h{i}.com/p{i}" for i in range(50)]
    import hashlib

    df = spark.createDataFrame(
        [(u, hashlib.sha256(u.encode()).hexdigest()) for u in urls],
        "url string, url_hash string",
    )
    rows = df.withColumn("ct", crawl_time_col(F.col("url_hash"))).collect()
    for r in rows:
        assert abs(r["ct"] - crawl_time_of(r["url"])) < 1e-12


def test_batch_ann_join_broadcasts_queries(spark):
    """q47's candidate join must broadcast the (small) query side — the
    index never shuffles (the 100 TB invariant)."""
    from adavnceseo_crawler_spark.operators.similarity import (
        lsh_ann_join,
        rademacher_planes,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    planes = rademacher_planes(n_tables=2, n_bits=4, dim=64)
    res = lsh_ann_join(
        e.filter(F.col("vec_id") < 400),
        e.filter(F.col("vec_id") >= 400).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
        ),
        planes,
        k=3,
    )
    plan = _plan(res)
    assert "BroadcastHashJoin" in plan, plan
    # no sort-merge/shuffled-hash join of the index side anywhere
    assert "SortMergeJoin" not in plan, plan


def test_bm25_term_filter_pushed_below_aggregate(spark):
    """The query-term filter must reach the postings build (filter on the
    grouping key pushes through the tf aggregate), so only matching terms
    are ever aggregated."""
    from adavnceseo_crawler_spark.operators.search import bm25_topk

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = bm25_topk(d, terms=["spark", "query"], k=5)
    # structural check on the OPTIMIZED LOGICAL plan (tree printed parent
    # first, children after): the Filter carrying the term literals must sit
    # between an Aggregate and its parquet leaf with NO Aggregate in between
    # — i.e. terms are filtered BEFORE the tf aggregate ever runs, not after.
    lines = df._jdf.queryExecution().optimizedPlan().toString().splitlines()
    term_filter_idxs = [
        i for i, ln in enumerate(lines)
        if "Filter" in ln and "spark" in ln and "query" in ln
    ]
    assert term_filter_idxs, "no Filter carrying the query terms in the plan"
    ok = False
    for fi in term_filter_idxs:
        # walk down from the filter to its leaf; reaching a parquet relation
        # without crossing another Aggregate proves the filter feeds the scan
        for ln in lines[fi + 1:]:
            if "Aggregate" in ln:
                break
            if "parquet" in ln or "Relation" in ln:
                ok = True
                break
        if ok:
            break
    assert ok, "term filter is not between the aggregate and the parquet scan"
    # and the aggregate itself is still present above it
    assert any("Aggregate" in ln for ln in lines[: term_filter_idxs[0]])


def test_frontier_tombstone_join_broadcast_vs_shuffle(spark, tmp_path, monkeypatch):
    """The MoR frontier read broadcasts the consumed tombstones only while
    the count the catalog records is genuinely small; past the threshold it
    must take the distributed shuffle anti-join — the broadcast build is
    driver-serial and was measured as a flat ~10s at 1.5M tombstones
    regardless of core count (BENCH/BASELINE.md round-3 decomposition)."""
    from adavnceseo_crawler_spark import schemas
    from adavnceseo_crawler_spark.catalog import SnapshotCatalog
    from adavnceseo_crawler_spark.plans import round as round_mod
    from adavnceseo_crawler_spark.plans.round import read_frontier, round_ts

    cat = SnapshotCatalog(spark, str(tmp_path / "tswh"))
    base = spark.createDataFrame(
        [(0, f"https://h/{i}", f"h{i}", "h", 0, None, round_ts(0), 0, 0)
         for i in range(50)],
        schemas.FRONTIER,
    )
    cat.commit("frontier", base, mode="overwrite")
    cat.commit(
        "frontier_consumed",
        spark.createDataFrame([(f"h{i}", 0) for i in range(10)],
                              schemas.FRONTIER_CONSUMED),
        mode="append",
    )
    assert cat.records("frontier_consumed") == 10
    bcast = read_frontier(cat)
    plan_b = bcast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_b, plan_b
    # the fixture is tiny, so Catalyst's size-based auto-broadcast would mask
    # the hint decision — disable it to observe the above-threshold plan
    prev_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    monkeypatch.setattr(round_mod, "CONSUMED_BROADCAST_ROWS", 9)
    try:
        shuf = read_frontier(cat)
        plan_s = shuf._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thr)
    assert "BroadcastHashJoin" not in plan_s, plan_s
    # single-key partitioning: the tombstone join must key on url_hash only,
    # never on (url_hash, round) — that compound key forced a second full
    # shuffle of the frontier base before the url_hash enrich join
    assert "hashpartitioning(url_hash" in plan_s, plan_s
    for part in plan_s.split("hashpartitioning(")[1:]:
        assert ", round#" not in part.split(")")[0], plan_s
    # row sets identical either way; the retry row re-added at round 1
    # survives its round-0 tombstone
    rows_b = sorted((r["url_hash"], r["round"]) for r in bcast.collect())
    rows_s = sorted((r["url_hash"], r["round"]) for r in shuf.collect())
    assert rows_b == rows_s


def test_frontier_base_shuffles_once_through_tombstone_and_enrich(
    spark, tmp_path, monkeypatch
):
    """VERDICT r3 #7: the MoR read's single-key tombstone join must leave the
    frontier base partitioned on url_hash so the url_metadata enrich join
    reuses that exchange — the compound-key (url_hash, round) variant forced
    a SECOND full shuffle of the base (measured +40 s/round at the 4-core
    4M-page scaling shape).  Pin: in the composed shuffle-regime plan
    (tombstones above broadcast threshold, auto-broadcast off) there are
    exactly THREE hash exchanges — base, grouped tombstones, metadata
    aggregate — and every base-side partitioning keys on url_hash alone."""
    from pyspark.sql import functions as F

    from adavnceseo_crawler_spark import schemas
    from adavnceseo_crawler_spark.catalog import SnapshotCatalog
    from adavnceseo_crawler_spark.plans import round as round_mod
    from adavnceseo_crawler_spark.plans.round import read_frontier, round_ts

    cat = SnapshotCatalog(spark, str(tmp_path / "xrwh"))
    cat.commit(
        "frontier",
        spark.createDataFrame(
            [(0, f"https://h/{i}", f"h{i}", "h", 0, None, round_ts(0), 0, 0)
             for i in range(50)],
            schemas.FRONTIER,
        ),
        mode="overwrite",
    )
    cat.commit(
        "frontier_consumed",
        spark.createDataFrame([(f"h{i}", 0) for i in range(10)],
                              schemas.FRONTIER_CONSUMED),
        mode="append",
    )
    cat.commit(
        "url_metadata",
        spark.createDataFrame(
            [(f"h{i}", round_ts(0), "success", 0.5, 0.1, 100) for i in range(5)],
            schemas.URL_METADATA,
        ),
        mode="overwrite",
    )
    prev_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    monkeypatch.setattr(round_mod, "CONSUMED_BROADCAST_ROWS", 9)
    try:
        frontier = read_frontier(cat)
        meta_latest = (
            cat.read("url_metadata")
            .select("url_hash", "last_crawled")
            .groupBy("url_hash")
            .agg(F.max("last_crawled").alias("last_crawled"))
        )
        cand = frontier.join(meta_latest, "url_hash", "left")
        plan = cand._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thr)
    parts = plan.split("Exchange hashpartitioning(")[1:]
    assert len(parts) == 3, f"expected 3 hash exchanges, got {len(parts)}:\n{plan}"
    for p in parts:
        keyspec = p.split(")")[0]
        assert keyspec.startswith("url_hash#"), plan
        assert ", round#" not in keyspec, plan
    # row-level sanity: enrich output preserves the resolved frontier rows
    assert cand.count() == 40


def test_dedup_probe_never_shuffles_seen(spark, tmp_path):
    """The exact-dedup probe path (round.py, use_bloom=False): url_seen must
    be SCANNED and probed via broadcast, never shuffled — its per-round cost
    would otherwise grow O(total URLs crawled).  Pins both halves: the semi
    probe against the seen scan and the anti-join back are BroadcastHashJoins,
    and no Exchange sits between the parquet scan and the semi probe."""
    from adavnceseo_crawler_spark.functions.urls import url_hash

    seen_path = str(tmp_path / "seen")
    spark.range(5000).select(
        F.sha2(F.col("id").cast("string"), 256).alias("url_hash")
    ).write.parquet(seen_path)
    seen = spark.read.parquet(seen_path)
    cand = (
        spark.range(500)
        .select(
            F.concat(F.lit("https://h/"), F.col("id").cast("string")).alias("url")
        )
        .withColumn("url_hash", url_hash(F.col("url")))
        .groupBy("url_hash")
        .agg(F.min("url").alias("url"))
        .cache()
    )
    cand.count()
    hits = seen.select("url_hash").join(
        F.broadcast(cand.select("url_hash")), "url_hash", "left_semi"
    )
    surv = cand.join(F.broadcast(hits), "url_hash", "left_anti")
    assert _plan(surv).count("BroadcastHashJoin") >= 2, _plan(surv)
    # the streamed (seen) side of the semi probe — everything printed between
    # the join node and its BroadcastExchange child — must be the parquet
    # scan itself, column-pruned to url_hash, with no shuffle in between
    hplan = _plan(hits)
    streamed = hplan.split("BroadcastHashJoin")[1].split("BroadcastExchange")[0]
    assert "FileScan parquet" in streamed and "Exchange" not in streamed, hplan
    assert "struct<url_hash:string>" in streamed, hplan
    cand.unpersist()


def test_corpus_pipeline_barriers_cached_and_lang_pushed(spark):
    """q72: the dedup/gate/decontaminate stage outputs are persisted pipeline
    barriers (downstream subplans read InMemoryTableScan, not a re-expanded
    corpus scan), and the language filter reaches the parquet scan."""
    from adavnceseo_crawler_spark.queries import QUERIES

    df = QUERIES["q72_corpus_pipeline"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("InMemoryTableScan") >= 3, plan[:2000]
    assert "lang" in plan.split("PushedFilters")[1][:200], (
        plan.split("PushedFilters")[1][:300]
    )


def _nodes(plan: str, name: str) -> int:
    """Number of plan nodes called ``name`` (``Exchange`` is a shuffle; a
    ``BroadcastExchange`` does not count)."""
    return len(re.findall(rf"\b{name}\b", plan))


def test_lsh_topk_prunes_with_one_udf_pass_per_side(spark):
    """q29 buckets each side once and prunes the broadcast cross join by a
    bucket match: two Python UDF passes, no shuffle, window or explode."""
    from adavnceseo_crawler_spark.queries import QUERIES

    plan = _plan(QUERIES["q29_lsh_ann_topk"](spark, "/root/testdata/sf0.001"))
    counts = {
        n: _nodes(plan, n)
        for n in ("ArrowEvalPython", "Exchange", "Window", "Generate")
    }
    assert counts == {
        "ArrowEvalPython": 2, "Exchange": 0, "Window": 0, "Generate": 0
    }, plan


def test_generator_inputs_evaluated_once(spark):
    """No filter is inferred under an explode and pushed below the
    projection that computes the exploded array: q68 splits each document
    once, and q47 runs its bucket UDF once per side."""
    from adavnceseo_crawler_spark.queries import QUERIES

    def optimized(name):
        df = QUERIES[name](spark, "/root/testdata/sf0.001")
        return df._jdf.queryExecution().optimizedPlan().toString()

    q68 = optimized("q68_chunk_documents")
    assert q68.count("split(") == 1, q68
    q47 = optimized("q47_batch_ann_join")
    assert _nodes(q47, "ArrowEvalPython") == 2, q47


# Py4J commands a second build of each query sent (count_py4j) before its
# operators built their expressions as SQL text: one call per Column
# function, lambda and literal
PARENT_BUILD_PY4J = {
    "q16_content_classify": 342,
    "q19_lang_id": 435,
    "q24_cosine_topk": 483,
    "q29_lsh_ann_topk": 819,
}


def test_operator_queries_build_in_few_py4j_calls(spark):
    from conftest import count_py4j

    from adavnceseo_crawler_spark.queries import QUERIES

    got = {}
    for name in PARENT_BUILD_PY4J:
        build = QUERIES[name]
        build(spark, "/root/testdata/sf0.001")  # infers the table schemas
        _, got[name] = count_py4j(lambda: build(spark, "/root/testdata/sf0.001"))
    print(f"\nbuild py4j calls: {got}")
    assert all(0 < n <= PARENT_BUILD_PY4J[q] // 2 for q, n in got.items()), got
