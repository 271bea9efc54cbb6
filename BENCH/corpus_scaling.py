"""Corpus-pipeline scaling evidence (VERDICT r4 #1): the q72-shaped LLM
curation pipeline — gate → exact dedup → MinHash-LSH near-dup + connected
components → benchmark decontamination → repeated-passage scrub → quota
sample — over a ≥1M-doc deterministic corpus (synth.gen_documents) at two
parallelism levels, with PER-STAGE walls.

Protocol mirrors BENCH/scaling.py (the crawl-loop harness):
* the corpus is generated ONCE per size (untimed) and read by both levels;
* each level runs in a fresh subprocess (own JVM, local[N]);
* every stage ends at a persist + count barrier, so a stage wall is that
  stage's own jobs, not lazy upstream work;
* per-stage row counts are emitted and MUST be identical across levels
  (same deterministic input ⇒ same output — a cheap cross-level check);
* interleave with BENCH/memprobe.py (the round-5 quiet-gate driver
  r5_gated.py is in git history at 75cfe3a) for quiet-window
  adjudication on a bandwidth-contended host.

Reproduce: python BENCH/corpus_scaling.py            (both levels)
           CORPUS_LEVELS=16 python BENCH/corpus_scaling.py   (one level)
Env: CORPUS_DOCS (default 1_000_000), CORPUS_LEVELS (default "4,16").
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import memprobe  # noqa: E402

RUNNER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
cpus = int(sys.argv[1])
corpus = sys.argv[2]
from pyspark.sql import functions as F
from adavnceseo_crawler_spark.session import get_spark
from adavnceseo_crawler_spark.operators.dedup import (
    exact_dedup, minhash_verified_pairs, neardup_components,
    dedup_keep_canonical)
from adavnceseo_crawler_spark.operators.quality import (
    gopher_repetition, decontaminate, passage_scrub)
from adavnceseo_crawler_spark.operators.sampling import quota_sample

spark = get_spark("corpusscale", master=f"local[{cpus}]",
                  shuffle_partitions=2 * cpus,
                  extra_conf={
                      "spark.speculation": "true",
                      "spark.speculation.multiplier": "1.5",
                      "spark.speculation.quantile": "0.75",
                      # the corpus parquet is ~0.2 GB; fan the scan out past
                      # the big level's cores so stage 1 isn't scan-bound
                      "spark.sql.files.maxPartitionBytes": "8m",
                  })
docs = spark.read.parquet(corpus)

walls, counts = {}, {}
def stage(name, frame):
    t0 = time.monotonic()
    frame = frame.persist()
    counts[name] = frame.count()
    walls[name] = round(time.monotonic() - t0, 2)
    return frame

# S1 gate: language filter + Gopher repetition/quality gate
langed = docs.filter(F.col("lang").isin("en", "es"))
gate = gopher_repetition(langed, min_words=20, max_top_bigram_frac=0.06,
                         max_dup_trigram_frac=0.0, min_alpha_word_frac=0.8)
gated = stage("gate", langed.join(
    gate.filter(F.col("keep")).select("doc_id"), "doc_id"))

# S2 exact dedup (hash-keyed, min-id canonical)
dd = stage("exact_dedup", exact_dedup(gated))

# S3 near-dup: LSH pairs -> connected components -> keep canonical
# max_bucket: the shared boilerplate passage (synth.corpus_doc i%%11) puts
# ~5.7%% of docs into ONE bucket per band -> 1.6e9 all-fail candidate pairs
# at 1M docs without the star-pair cap (measured: a single reducer wrote
# shuffle for 30+ min).  64 >> any true near-dup cluster here (pairs).
# neardup_components runs its label-propagation jobs EAGERLY (per-iteration
# convergence counts), so the whole chain sits inside the stage timer —
# stage() on the final frame alone would misattribute those jobs.
t0 = time.monotonic()
pairs = minhash_verified_pairs(dd, threshold=0.8, max_bucket=64)
comp = neardup_components(pairs)
nd = dedup_keep_canonical(dd, comp).persist()
counts["neardup"] = nd.count()
walls["neardup"] = round(time.monotonic() - t0, 2)

# S4 benchmark decontamination (eval slice = raw doc_id %% 97 == 0,
# removed from the kept set before the gram join, as in q72)
kept = nd.filter(F.col("doc_id") %% 97 != 0)
bench = docs.filter(F.col("doc_id") %% 97 == 0)
dec = decontaminate(kept, bench, n=4)
clean = stage("decontaminate", kept.join(
    dec.filter(~F.col("contaminated")).select("doc_id"), "doc_id"))

# S5 repeated-passage scrub (Lee et al. removal step)
scrubbed = stage("passage_scrub", passage_scrub(clean, n=4, min_df=8))

# S6 stratified quota sample (50k docs/source target)
t0 = time.monotonic()
sample_n = quota_sample(
    clean.select("doc_id", "source"), "source", 50000, "doc_id",
    prefilter_factor=4.0).count()
walls["sample"] = round(time.monotonic() - t0, 2)
counts["sample"] = sample_n

walls["total"] = round(sum(walls.values()), 2)
print("RESULT " + json.dumps({"cpus": cpus, "walls": walls,
                              "counts": counts}))
"""

GEN = r"""
import sys
sys.path.insert(0, %(repo)r)
from adavnceseo_crawler_spark.session import get_spark
from adavnceseo_crawler_spark import synth
spark = get_spark("gencorpus", master="local[32]", shuffle_partitions=64)
synth.gen_documents(spark, %(docs)d, partitions=256).write.mode(
    "overwrite").parquet(sys.argv[1])
print("GEN_DONE")
"""


def ensure_corpus(n_docs: int, base: str = "/tmp") -> str:
    path = os.path.join(base, f"corpus_{n_docs}.parquet")
    marker = path + ".done"
    if not os.path.exists(marker):
        out = subprocess.run(
            [sys.executable, "-c", GEN % {"repo": REPO, "docs": n_docs}, path],
            capture_output=True, text=True, timeout=3600,
        )
        if "GEN_DONE" not in out.stdout:
            raise RuntimeError(
                f"gen failed:\n{out.stdout[-1500:]}\n{out.stderr[-1500:]}")
        open(marker, "w").write("ok")
    return path


def run_level(cpus: int, corpus: str) -> dict:
    code = RUNNER % {"repo": REPO}
    t0 = time.monotonic()
    out = subprocess.run(
        [sys.executable, "-c", code, str(cpus), corpus],
        capture_output=True, text=True, timeout=7200,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            r = json.loads(line[len("RESULT "):])
            r["subprocess_wall"] = round(time.monotonic() - t0, 2)
            return r
    raise RuntimeError(
        f"level {cpus} failed:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def main() -> None:
    n_docs = int(os.environ.get("CORPUS_DOCS", "1000000"))
    levels = [int(x) for x in os.environ.get("CORPUS_LEVELS", "4,16").split(",")]
    corpus = ensure_corpus(n_docs)
    result = {"docs": n_docs, "levels": {}, "probes": {}}
    for lv in levels:
        result["probes"][f"pre_{lv}"] = memprobe.run(16)
        print(json.dumps({"msg": "level start", "cpus": lv,
                          "pre_gbps": result["probes"][f"pre_{lv}"]}),
              flush=True)
        result["levels"][str(lv)] = run_level(lv, corpus)
        result["probes"][f"post_{lv}"] = memprobe.run(16)
        print(json.dumps(result["levels"][str(lv)]), flush=True)
    if len(levels) == 2 and all(str(l) in result["levels"] for l in levels):
        lo, hi = sorted(levels)
        wl = result["levels"][str(lo)]["walls"]
        wh = result["levels"][str(hi)]["walls"]
        ratio = hi / lo
        result["efficiency"] = {
            k: round(wl[k] / (ratio * wh[k]), 3)
            for k in wh if wh.get(k) and wl.get(k)
        }
        cl = result["levels"][str(lo)]["counts"]
        ch = result["levels"][str(hi)]["counts"]
        result["counts_match"] = cl == ch
    out = os.path.join(HERE, os.environ.get("CORPUS_OUT",
                                            "corpus_scaling_result.json"))
    json.dump(result, open(out, "w"), indent=1)
    print(json.dumps({"done": out, "efficiency": result.get("efficiency")}),
          flush=True)


if __name__ == "__main__":
    main()
