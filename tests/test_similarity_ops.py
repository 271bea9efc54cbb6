"""Round-2 similarity/dedup/ML operator properties that the SQL oracles cannot
express: vectorized-UDF ≡ pure-reference signatures, LSH recall vs brute
force (measured, not assumed), LSH-verified dedup ≡ brute-force dedup, and
the OLS training → persist → load → predict round trip."""

from pyspark.sql import Window
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _docs(spark, n=None):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    return d.filter(F.col("doc_id") < n) if n else d


def _embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


# ---------------------------------------------------------------------------
# SimHash: vectorized UDF == readable per-token reference
# ---------------------------------------------------------------------------
def test_simhash_udf_matches_pure(spark):
    from adavnceseo_crawler_spark.operators.dedup import (
        make_simhash_udf,
        simhash_pure,
    )

    texts = [r["text"] for r in _docs(spark, 30).select("text").collect()]
    texts += ["", "one", "a b a b a", "x " * 500]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    got = {
        r["i"]: r["sh"]
        for r in df.select("i", make_simhash_udf()(F.col("t")).alias("sh")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == simhash_pure(t), (i, t[:40])


def test_simhash_banding_is_exact_superset(spark):
    """All pairs with Hamming ≤ bands-1 are candidates (pigeonhole), so the
    operator's output equals brute force over the slice."""
    from adavnceseo_crawler_spark.operators.dedup import (
        make_simhash_udf,
        simhash_candidates,
    )

    d = _docs(spark, 80)
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_candidates(d, bands=16, max_hamming=9).collect()
    }
    sigs = {
        r["doc_id"]: r["sh"]
        for r in d.select("doc_id", make_simhash_udf()(F.col("text")).alias("sh")).collect()
    }
    ids = sorted(sigs)
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")
            if h <= 9:
                expected[(a, b)] = h
    assert got == expected


# ---------------------------------------------------------------------------
# MinHash-LSH verified dedup == brute force (the oracle identity, in-engine)
# ---------------------------------------------------------------------------
def test_minhash_verified_equals_bruteforce(spark):
    from adavnceseo_crawler_spark.operators.dedup import (
        jaccard_pairs,
        minhash_verified_pairs,
    )
    from adavnceseo_crawler_spark.queries import STOPWORDS

    d = _docs(spark, 120)
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_verified_pairs(
            d, threshold=0.9, stopwords=STOPWORDS, min_len=3
        ).collect()
    }
    words = d.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("word"),
    ).filter((F.length("word") >= 3) & ~F.col("word").isin(*STOPWORDS))
    truth = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(words, threshold=0.9).collect()
    }
    assert got == truth
    assert len(truth) > 0  # non-vacuous on this corpus


# ---------------------------------------------------------------------------
# max_bucket rail: degenerate boilerplate buckets emit star pairs, not k^2
# ---------------------------------------------------------------------------
def test_minhash_max_bucket_star_pairs(spark):
    """A passage shared by many docs floods one LSH bucket per band; with
    ``max_bucket`` the verified OUTPUT is unchanged (true near-dup pairs
    still meet in small buckets keyed by their own tokens; boilerplate-only
    candidates failed verification anyway), and an oversized TRUE cluster
    stays connected through its star representative."""
    from adavnceseo_crawler_spark.operators.dedup import (
        minhash_verified_pairs,
    )
    from adavnceseo_crawler_spark.synth import corpus_doc

    rows = [(i, corpus_doc(i)[0]) for i in range(1500)]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    kw = dict(threshold=0.8, min_len=3)
    uncapped = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_verified_pairs(d, **kw).collect()
    }
    capped = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_verified_pairs(d, max_bucket=20, **kw).collect()
    }
    assert len(uncapped) > 0
    assert capped == uncapped
    # oversized TRUE near-dup cluster: 60 copies of one text with one word
    # tweaked each — every bucket they share exceeds max_bucket, so the
    # star keeps them connected to the min-id representative
    base = corpus_doc(3)[0].split()
    clone_rows = []
    for i in range(60):
        ws = list(base) + [f"zzz{i:03d}"]
        clone_rows.append((10_000 + i, " ".join(ws)))
    clones = spark.createDataFrame(clone_rows, ["doc_id", "text"])
    got = minhash_verified_pairs(clones, max_bucket=10, **kw).collect()
    ids_linked = {r["id_b"] for r in got if r["id_a"] == 10_000}
    assert ids_linked == {10_000 + i for i in range(1, 60)}


def test_minhash_max_bucket_components_refine(spark):
    """Capped edges ⊆ uncapped edges ⇒ downstream components only ever
    REFINE (split), never merge — the invariant that makes the cap safe
    for dedup (conservative: under-deletes).  The driver documents table
    packs ~100-doc near-cliques whose buckets dwarf max_bucket=8, so this
    exercises the oversized-true-cluster path, including the chain-split
    case the docstring documents."""
    from adavnceseo_crawler_spark.operators.dedup import (
        minhash_verified_pairs,
        neardup_components,
    )
    from adavnceseo_crawler_spark.queries import STOPWORDS

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kw = dict(threshold=0.9, stopwords=tuple(STOPWORDS), min_len=3)
    up = {
        (r["id_a"], r["id_b"])
        for r in minhash_verified_pairs(d, **kw).collect()
    }
    cp = {
        (r["id_a"], r["id_b"])
        for r in minhash_verified_pairs(d, max_bucket=8, **kw).collect()
    }
    assert cp <= up and len(cp) < len(up)  # cap engaged, subset holds
    ucomp = {
        r["id"]: r["comp"]
        for r in neardup_components(
            spark.createDataFrame(sorted(up), ["id_a", "id_b"])
        ).collect()
    }
    ccomp = {
        r["id"]: r["comp"]
        for r in neardup_components(
            spark.createDataFrame(sorted(cp), ["id_a", "id_b"])
        ).collect()
    }
    # refinement: two ids in the same capped component are in the same
    # uncapped component (splits allowed, merges impossible)
    by_capped: dict = {}
    for i, c in ccomp.items():
        by_capped.setdefault(c, []).append(i)
    for members in by_capped.values():
        assert len({ucomp[i] for i in members}) == 1


# ---------------------------------------------------------------------------
# LSH ANN: recall vs brute force, measured
# ---------------------------------------------------------------------------
def _brute_topk(spark, index, queries, k):
    from adavnceseo_crawler_spark.operators.similarity import cosine_col

    j = index.crossJoin(F.broadcast(queries))
    scored = j.select(
        "query_id",
        "vec_id",
        F.round(cosine_col("embedding", "q"), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def test_lsh_batch_ann_recall(spark):
    from adavnceseo_crawler_spark.operators.similarity import (
        lsh_ann_join,
        rademacher_planes,
    )

    e = _embs(spark)
    index = e.filter(F.col("vec_id") < 400)
    queries = e.filter(F.col("vec_id") >= 400).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    planes = rademacher_planes(n_tables=8, n_bits=6, dim=64)
    got = {
        (r["query_id"], r["vec_id"])
        for r in lsh_ann_join(index, queries, planes, k=3).collect()
    }
    truth = {
        (r["query_id"], r["vec_id"])
        for r in _brute_topk(spark, index, queries, 3).collect()
    }
    recall = len(got & truth) / len(truth)
    # random near-orthogonal vectors are the worst case for cosine LSH; the
    # point of the measurement is that the number is REPORTED, not assumed.
    # The calibrated operating point (≥0.9 on planted near-neighbors) is
    # asserted in test_lsh_high_recall_preset_on_planted below; the full
    # recall-vs-cost curve lives in BENCH/ann_recall.json.
    print(f"\nlsh batch ANN recall@3 = {recall:.3f} ({len(got)} returned)")
    assert recall >= 0.25
    assert len(got) > 0


def test_lsh_high_recall_preset_on_planted(spark):
    """The published HIGH_RECALL preset must deliver ≥0.9 recall@3 on the
    planted-near-neighbor fixture (the calibrated operating point,
    BENCH/ann_calibration.py; the random-vector test above documents the
    worst case).  Run through the REAL Spark operator, not the numpy replay."""
    from adavnceseo_crawler_spark.operators.similarity import (
        LSH_HIGH_RECALL,
        lsh_ann_join,
        rademacher_planes,
    )
    from adavnceseo_crawler_spark.synth import gen_planted_vectors

    ids, ivecs, qids, qvecs = gen_planted_vectors()
    index = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(ids, ivecs)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(qids, qvecs)],
        "query_id long, q array<float>",
    )
    planes = rademacher_planes(dim=64, **LSH_HIGH_RECALL)
    got = {
        (r["query_id"], r["vec_id"])
        for r in lsh_ann_join(index, queries, planes, k=3).collect()
    }
    truth = {
        (r["query_id"], r["vec_id"])
        for r in _brute_topk(spark, index, queries, 3).collect()
    }
    recall = len(got & truth) / len(truth)
    print(f"\nHIGH_RECALL preset planted recall@3 = {recall:.3f}")
    assert recall >= 0.9


def test_lsh_single_query_candidates_subset_and_scored_exactly(spark):
    """Every LSH hit must carry the exact brute-force cosine for its id (the
    approximation only prunes candidates, never perturbs scores)."""
    from adavnceseo_crawler_spark.operators.similarity import cosine_col, lsh_topk

    e = _embs(spark)
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    got = lsh_topk(
        e.filter(F.col("vec_id") != 0), qv, dim=64, k=10, n_tables=8, n_bits=6
    ).collect()
    assert len(got) > 0
    truth = {
        r["vec_id"]: r["cos"]
        for r in e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id", F.round(cosine_col("embedding", "q"), 6).alias("cos")
        )
        .collect()
    }
    for r in got:
        assert truth[r["vec_id"]] == r["cos"]


# ---------------------------------------------------------------------------
# OLS training path: fit -> persist to catalog -> load -> predict
# ---------------------------------------------------------------------------
def test_ols_fit_persist_predict(spark, tmp_catalog):
    from adavnceseo_crawler_spark.functions.mlhooks import (
        fit_ols2,
        ols2_coeffs_from_sums,
        ols2_predict_col,
    )

    # y = 7 + 3*f1 - 2*f2 exactly -> OLS must recover the coefficients
    rows = [(i, i % 5, 7 + 3 * i - 2 * (i % 5)) for i in range(100)]
    df = spark.createDataFrame(rows, "f1 long, f2 long, y long")
    coef = fit_ols2(df, "f1", "f2", "y")
    assert abs(coef["b1"] - 3) < 1e-9
    assert abs(coef["b2"] + 2) < 1e-9
    assert abs(coef["intercept"] - 7) < 1e-9

    # persist coefficients as a catalog table (the deployment shape: the
    # offline fit job commits, the scoring job reads)
    cdf = spark.createDataFrame(
        [(coef["intercept"], coef["b1"], coef["b2"])], "intercept double, b1 double, b2 double"
    )
    tmp_catalog.commit("url_model", cdf, mode="overwrite", meta={"kind": "ols2"})
    loaded = tmp_catalog.read("url_model").collect()[0]
    coef2 = {"intercept": loaded["intercept"], "b1": loaded["b1"], "b2": loaded["b2"]}
    pred = df.select(
        "y", ols2_predict_col(coef2, F.col("f1"), F.col("f2")).alias("p")
    ).collect()
    for r in pred:
        assert abs(r["p"] - r["y"]) < 1e-6


def test_ivf_topk_scores_exact_and_prunes(spark):
    """IVF hits carry exact brute-force cosines; candidates come only from
    the probed cells (pruning is real, not a full scan)."""
    from adavnceseo_crawler_spark.operators.similarity import (
        cosine_col,
        ivf_topk,
        make_ivf_assign_udf,
    )

    e = _embs(spark)
    cents = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in e.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    index = e.filter((F.col("vec_id") >= 16) & (F.col("vec_id") != 499))
    query = e.filter(F.col("vec_id") == 499).select(F.col("embedding").alias("q"))
    got = ivf_topk(index, query, cents, k=10, n_probe=4).collect()
    assert 0 < len(got) <= 10

    truth = {
        r["vec_id"]: r["cos"]
        for r in index.crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            F.round(cosine_col("embedding", "q"), 6).alias("cos"),
        )
        .collect()
    }
    for r in got:
        assert truth[r["vec_id"]] == r["cos"]

    # pruning: with all 16 cells probed the result is the exact brute-force
    # top-10; with 4 it may differ but must come from a strict candidate
    # subset (fewer candidates scored than the index size)
    assign = make_ivf_assign_udf(cents)
    cell_counts = (
        index.withColumn("_cell", assign(F.col("embedding")))
        .groupBy("_cell").count().collect()
    )
    assert len(cell_counts) > 4  # >n_probe cells exist => pruning is real

    full = ivf_topk(index, query, cents, k=10, n_probe=len(cents)).collect()
    brute_top = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r["vec_id"], r["cos"]) for r in full] == brute_top


def test_ols3_fit_recovers_coefficients(spark):
    """y = 5 + 2·f1 - 3·f2 + 4·f3 exactly -> the 3-feature Cramer solve
    must recover all four coefficients (exact integer sufficient stats)."""
    from adavnceseo_crawler_spark.functions.mlhooks import (
        fit_ols3,
        ols3_predict_col,
    )

    rows = [
        (i, i % 7, (i * i) % 11, 5 + 2 * i - 3 * (i % 7) + 4 * ((i * i) % 11))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "f1 long, f2 long, f3 long, y long")
    coef = fit_ols3(df, "f1", "f2", "f3", "y")
    assert abs(coef["b1"] - 2) < 1e-9
    assert abs(coef["b2"] + 3) < 1e-9
    assert abs(coef["b3"] - 4) < 1e-9
    assert abs(coef["intercept"] - 5) < 1e-9
    pred = df.select(
        "y", ols3_predict_col(coef, F.col("f1"), F.col("f2"), F.col("f3")).alias("p")
    ).collect()
    for r in pred:
        assert abs(r["p"] - r["y"]) < 1e-6


def test_nb_fit_persist_predict(spark, tmp_catalog):
    """Multinomial NB (U6/U8 training path): fit on weak labels -> persist
    the weight/prior tables to the catalog -> reload -> predict.  On a
    cleanly separable corpus the trained model must classify every doc,
    including held-out token mixes the labeling rule never saw."""
    from adavnceseo_crawler_spark.functions.nbayes import (
        fit_nb,
        model_tables,
        nb_predict,
    )

    rows = [
        (i, "spark shuffle join agg " * 3 + "scan", "compute")
        for i in range(20)
    ] + [
        (i + 100, "parquet manifest snapshot commit " * 3 + "table", "storage")
        for i in range(20)
    ]
    labeled = spark.createDataFrame(rows, "doc_id long, text string, label string")
    model = fit_nb(labeled)
    assert set(model["priors"]) == {"compute", "storage"}
    wdf, pdf = model_tables(spark, model)
    tmp_catalog.commit("nb_weights", wdf, mode="overwrite", meta={"kind": "nb"})
    tmp_catalog.commit("nb_priors", pdf, mode="overwrite", meta={"kind": "nb"})

    w2 = tmp_catalog.read("nb_weights")
    p2 = tmp_catalog.read("nb_priors")
    test = spark.createDataFrame(
        [(0, "shuffle agg scan spark"), (1, "snapshot commit parquet manifest"),
         (2, "join join join table")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["predicted"] for r in nb_predict(test, w2, p2).collect()}
    assert got[0] == "compute"
    assert got[1] == "storage"
    assert got[2] == "compute"  # 3× join outvotes 1× table


def test_nb_distributed_fit_equals_dict_fit(spark):
    """fit_nb_df (VERDICT r3 #3: zero driver vocab state) must produce the
    SAME integer micro-nat weight/prior tables as the reference dict fit —
    the SQL oracles retrain the dict model, so equality here is what keeps
    q37/q38 oracle parity intact after the swap."""
    from adavnceseo_crawler_spark.functions.nbayes import (
        fit_nb,
        fit_nb_df,
        model_tables,
    )

    rows = [
        (0, "spark join agg scan spark", "compute"),
        (1, "parquet table commit", "storage"),
        (2, "join table scan", "compute"),
        (3, "snapshot manifest table table", "storage"),
        (4, "agg agg scan", "compute"),
    ]
    labeled = spark.createDataFrame(rows, "doc_id long, text string, label string")
    wdf_ref, pdf_ref = model_tables(spark, fit_nb(labeled))
    wdf, pdf = fit_nb_df(labeled)
    ref_w = {(r["label"], r["token"]): r["w"] for r in wdf_ref.collect()}
    got_w = {(r["label"], r["token"]): r["w"] for r in wdf.collect()}
    assert got_w == ref_w
    ref_p = {r["label"]: r["prior"] for r in pdf_ref.collect()}
    got_p = {r["label"]: r["prior"] for r in pdf.collect()}
    assert got_p == ref_p


def test_nb_distributed_fit_large_vocab(spark):
    """The distributed fit completes on a vocabulary far beyond what the
    dict fit would materialize comfortably driver-side: 2×10^5 distinct
    tokens -> labels×vocab grid of 4×10^5 weight rows, all in DataFrames."""
    from pyspark.sql import functions as F

    from adavnceseo_crawler_spark.functions.nbayes import fit_nb_df

    docs = spark.range(70000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat(F.lit("tok"), (F.col("id") * 3 + 0).cast("string")),
            F.concat(F.lit("tok"), (F.col("id") * 3 + 1).cast("string")),
            F.concat(F.lit("tok"), (F.col("id") * 3 + 2).cast("string")),
        ).alias("text"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("label"),
    )
    wdf, pdf = fit_nb_df(docs)
    n_weights = wdf.count()
    vocab_size = wdf.select("token").distinct().count()
    assert vocab_size > 150000
    assert n_weights == 2 * vocab_size  # full labels×vocab smoothed grid
    assert pdf.count() == 2


def test_nb_fit_min_df_prunes_vocab(spark):
    """min_df prunes sub-threshold tokens from the vocabulary (V shrinks, so
    weights change consistently -- Laplace smoothing over the pruned V)."""
    from adavnceseo_crawler_spark.functions.nbayes import fit_nb_df

    rows = [
        (0, "common common common rare1", "a"),
        (1, "common common rare2", "b"),
    ]
    labeled = spark.createDataFrame(rows, "doc_id long, text string, label string")
    wdf, _ = fit_nb_df(labeled, min_df=2)
    toks = {r["token"] for r in wdf.select("token").distinct().collect()}
    assert toks == {"common"}


def test_nb_scores_shuffle_join_equals_broadcast(spark):
    """nb_scores(broadcast_weights=False) — the 10^8-vocab web-scale plan
    (token-keyed shuffle join) — must produce identical scores to the
    broadcast plan."""
    from adavnceseo_crawler_spark.functions.nbayes import fit_nb_df, nb_scores

    rows = [
        (0, "spark join agg scan spark", "compute"),
        (1, "parquet table commit", "storage"),
        (2, "join table scan snapshot", "compute"),
        (3, "snapshot manifest table table", "storage"),
    ]
    labeled = spark.createDataFrame(rows, "doc_id long, text string, label string")
    wdf, pdf = fit_nb_df(labeled)
    a = {(r["doc_id"], r["label"]): r["score"]
         for r in nb_scores(labeled, wdf, pdf).collect()}
    b = {(r["doc_id"], r["label"]): r["score"]
         for r in nb_scores(labeled, wdf, pdf, broadcast_weights=False).collect()}
    assert a == b and len(a) == 8


def test_neardup_components_path_graph(spark):
    """Min-label propagation on the WORST-case topology for propagation — a
    path 0-1-2-...-9 (diameter 9, forces ~5 bidirectional iterations) plus a
    separate triangle and an isolated pair; exact component labels and the
    keep-canonical anti-join are both pinned."""
    from adavnceseo_crawler_spark.operators.dedup import (
        dedup_keep_canonical,
        neardup_components,
    )

    path = [(i, i + 1) for i in range(9)]            # component {0..9} -> 0
    tri = [(20, 21), (21, 22), (20, 22)]             # component {20,21,22} -> 20
    pair = [(31, 30)]                                # component {30,31} -> 30
    pairs = spark.createDataFrame(path + tri + pair, "id_a long, id_b long")
    comp = {r["id"]: r["comp"]
            for r in neardup_components(pairs).collect()}
    want = {i: 0 for i in range(10)}
    want.update({20: 20, 21: 20, 22: 20, 30: 30, 31: 30})
    assert comp == want

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in [*range(10), 20, 21, 22, 30, 31, 99]],
        "doc_id long, text string",
    )
    kept = {r["doc_id"]
            for r in dedup_keep_canonical(
                docs, neardup_components(pairs)).collect()}
    # one survivor per cluster; the isolated doc 99 passes through untouched
    assert kept == {0, 20, 30, 99}


def test_quota_sample_two_stage_equals_exact(spark):
    """The prefilter plan must equal the exact single-stage definition on a
    skewed frame with a stratum below quota, and the verified fallback must
    restore exactness even when the prefilter is deliberately starved
    (factor 0.2 keeps ~2 rows where quota needs 10)."""
    from adavnceseo_crawler_spark.operators.sampling import quota_sample

    rows = [(f"s{(i * i) % 3}", i) for i in range(900)]  # zipf-ish 3 strata
    rows += [("tiny", i) for i in range(1000, 1004)]     # stratum n=4 < quota
    df = spark.createDataFrame(rows, "source string, doc_id long")
    exact = {(r["source"], r["doc_id"], r["rk"])
             for r in quota_sample(df, "source", 10, "doc_id",
                                   prefilter_factor=None).collect()}
    for factor in (4.0, 0.2):
        two = {(r["source"], r["doc_id"], r["rk"])
               for r in quota_sample(df, "source", 10, "doc_id",
                                     prefilter_factor=factor).collect()}
        assert two == exact, factor
    assert sum(1 for s, _, _ in exact if s == "tiny") == 4  # whole stratum
