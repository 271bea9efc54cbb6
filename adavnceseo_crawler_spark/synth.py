"""Deterministic synthetic Common-Crawl-style web (FIXTURES.md §1-§3).

Every page attribute is a pure function of the page id, so:

* Spark generates the ``pages`` table **distributively** (``mapInPandas`` over
  ``spark.range`` — no driver-side materialization; scales to 10^10 ids), and
* the pure-Python reference simulator (tests/reference_sim.py) reconstructs the
  identical web without Spark.

The HTML is well-formed and only uses constructs where the reference's text
extraction spec (html_parser.py:120-132: drop script/style/header/footer/nav
subtrees, join stripped text nodes with ' ', collapse whitespace) is
unambiguous; ground-truth ``text`` is built **by construction** from the same
components, independent of any parser (the byte-identical per-row invariant).

Host popularity is Zipf(s=1.1) to exercise hot-host skew (FIXTURES.md §1);
paths use the reference's pattern vocabulary (prioritizer.py:25-33); links are
emitted in deliberately messy forms (uppercase host, default port, unsorted
query params, percent-encoded unreserved chars, fragments) that must
canonicalize back to the target page's canonical URL, plus noise links
(anchors, javascript:, binary extensions) that must be filtered per
html_parser.py:27-33,140-155.
"""

from __future__ import annotations

import datetime as _dt
from bisect import bisect_left
from functools import lru_cache
from typing import Iterator

# ---------------------------------------------------------------------------
# deterministic mixing (splitmix64)
# ---------------------------------------------------------------------------
_M = (1 << 64) - 1


def mix(*xs: int) -> int:
    z = 0x9E3779B97F4A7C15
    for x in xs:
        z = (z + (x & _M) + 0x9E3779B97F4A7C15) & _M
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M
        z = z ^ (z >> 31)
    return z


def _u(pid: int, *salt: int) -> float:
    """uniform in [0,1) as a pure function of (pid, salt)."""
    return mix(pid, *salt) / float(1 << 64)


# ---------------------------------------------------------------------------
# vocabulary & URL shape
# ---------------------------------------------------------------------------
VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu amber birch cedar dune ember flint grove harbor inlet "
    "jasper knoll lagoon mesa nectar onyx prairie quartz ridge summit thicket "
    "umber vale willow yonder zephyr basin cliff delta2 estuary fjord glacier "
    "article news product welcome price story archive index"
).split()

# path patterns + weights, dict order matters (prioritizer.py:25-33, first
# re.search hit wins at prioritizer.py:86-89)
PATH_PATTERNS = (
    ("/article/", 1.5),
    ("/blog/", 1.3),
    ("/news/", 1.4),
    ("/product/", 1.2),
    ("/category/", 0.8),
    ("/tag/", 0.6),
    (r"/page/\d+", 0.5),
)

_EPOCH = _dt.datetime(2025, 1, 1, 0, 0, 0)

ZIPF_S = 1.1


@lru_cache(maxsize=8)
def _zipf_cdf(n_hosts: int, s: float = ZIPF_S) -> tuple:
    w, acc = [], 0.0
    for r in range(1, n_hosts + 1):
        acc += 1.0 / (r**s)
        w.append(acc)
    return tuple(w)


def host_idx_of(pid: int, n_hosts: int) -> int:
    cdf = _zipf_cdf(n_hosts)
    return bisect_left(cdf, _u(pid, 101) * cdf[-1])


def host_of(pid: int, n_hosts: int) -> str:
    return f"host{host_idx_of(pid, n_hosts)}.example.com"


def url_of(pid: int, n_hosts: int) -> str:
    """Canonical URL of page pid (already in canonicalize_url fixed-point form)."""
    host = host_of(pid, n_hosts)
    pat_idx = mix(pid, 102) % 8  # 0-6 = reference patterns, 7 = plain path
    extra = mix(pid, 103) % 3  # 0-2 extra leading segments (depth variation)
    segs = [VOCAB[mix(pid, 104, i) % len(VOCAB)] for i in range(extra)]
    prefix = "".join("/" + s for s in segs)
    if pat_idx == 6:
        path = f"{prefix}/page/{pid}"
    elif pat_idx == 7:
        path = f"{prefix}/item-{pid}"
    else:
        pat = PATH_PATTERNS[pat_idx][0]
        path = f"{prefix}{pat}item-{pid}"
    query = "?lang=en&ref=src" if mix(pid, 105) % 4 == 0 else ""
    return f"https://{host}{path}{query}"


# ---------------------------------------------------------------------------
# link graph
# ---------------------------------------------------------------------------
N_LINKS = 6


def link_targets_of(pid: int, n_pages: int) -> list[int]:
    out: list[int] = []
    for j in range(N_LINKS):
        t = mix(pid, 200, j) % n_pages
        if t != pid and t not in out:
            out.append(t)
    return out


def _messy_form(pid: int, j: int, target_url: str, same_host: bool) -> str:
    """A non-canonical spelling of target_url (exercises canonicalize_url)."""
    form = mix(pid, 201, j) % 5
    scheme, rest = target_url.split("://", 1)
    host, _, pathq = rest.partition("/")
    pathq = "/" + pathq
    if form == 1:
        return f"{scheme}://{host.upper()}{pathq}#section-{j}"
    if form == 2:
        if "?" in pathq:
            path, q = pathq.split("?", 1)
            ks = q.split("&")
            return f"{scheme}://{host}:443{path}?{'&'.join(reversed(ks))}"
        return f"{scheme}://{host}:443{pathq}"
    if form == 3 and same_host:
        return pathq  # relative — needs urljoin against the base url
    if form == 4 and "item-" in pathq:
        # percent-encode the 'i' of "item" (unreserved; must decode back)
        return f"{scheme}://{host}{pathq.replace('item-', '%69tem-', 1)}"
    return target_url


def links_of(pid: int, n_pages: int, n_hosts: int) -> list[tuple[str, str]]:
    """[(href-as-written, anchor-text)] for the real graph links of page pid."""
    src_host = host_of(pid, n_hosts)
    out = []
    for j, t in enumerate(link_targets_of(pid, n_pages)):
        tu = url_of(t, n_hosts)
        same = host_of(t, n_hosts) == src_host
        href = _messy_form(pid, j, tu, same)
        anchor = f"{VOCAB[mix(pid, 202, j) % len(VOCAB)]} link{j}"
        out.append((href, anchor))
    return out


# ---------------------------------------------------------------------------
# page content
# ---------------------------------------------------------------------------
def _words(pid: int, slot: int, n: int) -> str:
    return " ".join(VOCAB[mix(pid, 300, slot, i) % len(VOCAB)] for i in range(n))


def components_of(pid: int, n_pages: int, n_hosts: int) -> dict:
    body_len = 12 + mix(pid, 301) % 60  # varies content_length / quality factors
    comps = {
        "title": f"{_words(pid, 1, 3).title()} Item {pid}",
        "desc": _words(pid, 2, 8),
        "keywords": [VOCAB[mix(pid, 302, i) % len(VOCAB)] for i in range(3)],
        "h1": _words(pid, 3, 3).title(),
        "h2": _words(pid, 7, 2).title(),
        "para1": _words(pid, 4, body_len),
        "para2": _words(pid, 5, 10),
        "links": links_of(pid, n_pages, n_hosts),
        "noise": [f"{VOCAB[mix(pid, 303, i) % len(VOCAB)]} noise{i}" for i in range(3)],
        "img": f"/img/{pid}.png",
        "alt": f"pic {pid}",
    }
    return comps


def html_of(pid: int, n_pages: int, n_hosts: int) -> bytes:
    c = components_of(pid, n_pages, n_hosts)
    lis = "\n".join(
        f'<li><a href="{href}">{anchor}</a></li>' for href, anchor in c["links"]
    )
    kw = ", ".join(c["keywords"])
    html = f"""<html><head><title>{c['title']}</title>
<meta name="description" content="{c['desc']}">
<meta name="keywords" content="{kw}">
<meta property="og:type" content="website">
</head><body>
<header>Site header for page {pid}</header>
<nav><a href="/">Home</a> <a href="/about">About</a></nav>
<h1>{c['h1']}</h1>
<h2>{c['h2']}</h2>
<p>{c['para1']}</p>
<p>{c['para2']}</p>
<ul>
{lis}
</ul>
<p><a href="#top">{c['noise'][0]}</a> <a href="javascript:void(0)">{c['noise'][1]}</a> <a href="/files/report-{pid}.pdf">{c['noise'][2]}</a></p>
<img src="{c['img']}" alt="{c['alt']}" title="img {pid}" width="640" height="480">
<script>var page = {pid};</script>
<style>.m {{ color: red; }}</style>
<footer>Footer text</footer>
</body></html>"""
    return html.encode("utf-8")


def text_of(pid: int, n_pages: int, n_hosts: int) -> str:
    """Ground-truth extracted text, built by construction (not by parsing).

    Equals the html_parser.py:120-132 spec applied to html_of(pid): visible
    text nodes in document order (title, h1, h2, paragraphs, anchor texts),
    stripped, joined with ' ', whitespace-collapsed.
    """
    c = components_of(pid, n_pages, n_hosts)
    parts = [c["title"], c["h1"], c["h2"], c["para1"], c["para2"]]
    parts += [anchor for _, anchor in c["links"]]
    parts += c["noise"]
    return " ".join(parts)


def lang_of(pid: int) -> str:
    r = mix(pid, 400) % 20
    if r < 16:
        return "en"
    return ("de", "fr", "es", "it")[r - 16]


def warc_ts_of(pid: int) -> _dt.datetime:
    return _EPOCH + _dt.timedelta(seconds=(mix(pid, 401) % 2_592_000))


def crawl_time_of(url: str) -> float:
    """Deterministic synthetic fetch latency in seconds (stand-in for the
    wall-clock timing the reference records at fetcher/crawler.py:180-185)."""
    import hashlib

    h = int(hashlib.sha256(url.encode()).hexdigest()[:8], 16)
    return 0.1 + (h % 900) / 1000.0


# ---------------------------------------------------------------------------
# robots (FIXTURES.md §3): host%3==0 -> disallow /tag/ & /page/;
# host%3==1 -> explicit allow-all; host%3==2 -> no robots (permissive,
# url_frontier.py:153-158)
# ---------------------------------------------------------------------------
def robots_rows(n_hosts: int) -> list[tuple]:
    rows = []
    for h in range(n_hosts):
        host = f"host{h}.example.com"
        if h % 3 == 0:
            rules = [(False, "/tag/"), (False, "/page/"), (True, "/")]
        elif h % 3 == 1:
            rules = [(True, "/")]
        else:
            continue  # no robots.txt -> permissive
        rows.append((host, rules, _EPOCH))
    return rows


def robots_allows(rules: list[tuple] | None, path: str) -> bool:
    """Longest-prefix-match; default allow (permissive on missing robots,
    url_frontier.py:153-158).  Equal-length tie resolves toward allow — the
    least-restrictive rule, per RFC 9309 §2.2.2 — matching the engine's
    array_max(struct(len, allow)) expression."""
    if not rules:
        return True
    best = (-1, True)
    for allow, prefix in rules:
        if path.startswith(prefix):
            best = max(best, (len(prefix), allow))
    return best[1]


# ---------------------------------------------------------------------------
# seeds (FIXTURES.md §2): messy forms incl. scheme-less + duplicates
# ---------------------------------------------------------------------------
def seed_urls(n_pages: int, n_hosts: int, n_seeds: int = 8) -> list[str]:
    seeds = []
    for i in range(n_seeds):
        pid = mix(997, i) % n_pages
        u = url_of(pid, n_hosts)
        form = i % 3
        if form == 1:
            u = u[len("https://") :]  # scheme-less (main.py:96-97)
        elif form == 2:
            scheme, rest = u.split("://", 1)
            host, _, pathq = rest.partition("/")
            u = f"{scheme}://{host.upper()}/{pathq}"
        seeds.append(u)
    seeds.append(seeds[0])  # duplicate (exercises dedup)
    return seeds


# ---------------------------------------------------------------------------
# Spark-side generation (distributed; no driver materialization)
# ---------------------------------------------------------------------------
def gen_pages(spark, n_pages: int, n_hosts: int, partitions: int = 32):
    """The synthetic web as a pages(url, warc_ts, html, text, lang) DataFrame."""
    import pandas as pd

    from .schemas import PAGES

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf["id"].to_numpy()
            yield pd.DataFrame(
                {
                    "url": [url_of(int(i), n_hosts) for i in ids],
                    "warc_ts": [warc_ts_of(int(i)) for i in ids],
                    "html": [html_of(int(i), n_pages, n_hosts) for i in ids],
                    "text": [text_of(int(i), n_pages, n_hosts) for i in ids],
                    "lang": [lang_of(int(i)) for i in ids],
                }
            )

    return (
        spark.range(0, n_pages, numPartitions=partitions)
        .mapInPandas(batches, schema=PAGES)
    )


def gen_robots(spark, n_hosts: int):
    from .schemas import ROBOTS

    return spark.createDataFrame(robots_rows(n_hosts), ROBOTS)


def gen_seeds(spark, n_pages: int, n_hosts: int, n_seeds: int = 8):
    from .schemas import SEEDS

    if n_seeds > 100_000:
        # large benches: never materialize seeds on the driver
        return gen_seeds_distributed(spark, n_pages, n_hosts, n_seeds)
    return spark.createDataFrame(
        [(u,) for u in seed_urls(n_pages, n_hosts, n_seeds)], SEEDS
    )


def gen_seeds_distributed(
    spark, n_pages: int, n_hosts: int, n_seeds: int, partitions: int = 64
):
    """Seed URLs as a distributed DataFrame (pure function of seed index —
    same messy-form mix as seed_urls, no driver-side list).  Used by the
    scaling benches, where seeds number 10^6+."""
    import pandas as pd

    from .schemas import SEEDS

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for i in pdf["id"].to_numpy():
                i = int(i)
                u = url_of(mix(997, i) % n_pages, n_hosts)
                form = i % 3
                if form == 1:
                    u = u[len("https://"):]
                elif form == 2:
                    scheme, rest = u.split("://", 1)
                    host, _, pathq = rest.partition("/")
                    u = f"{scheme}://{host.upper()}/{pathq}"
                out.append(u)
            yield pd.DataFrame({"url": out})

    return spark.range(0, n_seeds, numPartitions=partitions).mapInPandas(
        batches, schema=SEEDS
    )


def gen_planted_vectors(
    n_bases: int = 60,
    n_copies: int = 4,
    n_queries: int = 30,
    dim: int = 64,
    noise: float = 0.04,
    seed: int = 7,
):
    """Planted-near-neighbor embedding fixture for ANN recall calibration.

    ``n_bases`` unit base vectors; each contributes ``n_copies`` noisy
    copies to the INDEX (cosine of copy to base ≈ 1/sqrt(1 + noise²·dim);
    at noise 0.04, copy-to-copy cosine ≈ 0.90 — the near-dup regime ANN
    dedup targets), and the first ``n_queries`` bases
    contribute one extra noisy copy each as the QUERY set, so every query
    has a known cluster of true near neighbors.  Deterministic
    (np.random.RandomState(seed)).  Returns (index_ids, index_vecs,
    query_ids, query_vecs) with float32 vectors (the embeddings-table
    dtype)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    bases = rng.standard_normal((n_bases, dim))
    bases /= np.linalg.norm(bases, axis=1, keepdims=True)

    def _noisy(b):
        v = b + noise * rng.standard_normal(dim)
        return v / np.linalg.norm(v)

    index_vecs = np.stack(
        [_noisy(bases[i]) for i in range(n_bases) for _ in range(n_copies)]
    ).astype(np.float32)
    index_ids = list(range(n_bases * n_copies))
    query_vecs = np.stack([_noisy(bases[i]) for i in range(n_queries)]).astype(
        np.float32
    )
    query_ids = list(range(1000, 1000 + n_queries))
    return index_ids, index_vecs, query_ids, query_vecs


# ---------------------------------------------------------------------------
# deterministic corpus for the LLM-pipeline scaling bench (round 5)
# ---------------------------------------------------------------------------
_CORPUS_PASSAGE = (
    "shared wire passage alpha bravo charlie delta echo foxtrot golf "
    "hotel india"
)


def corpus_doc(i: int, vocab: int = 50021) -> tuple[str, str, str]:
    """(text, lang, source) for corpus doc ``i`` — pure function of the id,
    so 10^8-doc corpora generate distributively and any level of the
    scaling bench sees byte-identical input.  Plants, in precedence order:

    * ``i % 13 == 12``  exact duplicate of base ``i-12`` (exact-dedup work);
    * ``i % 17 == 16``  near-duplicate of base ``i-16`` with two words
      substituted (token-Jaccard ≈ 0.94 → MinHash-LSH work);
    * ``i % 29 == 0``   one bigram repeated 40× (Gopher repetition drop);
    * ``i % 11 == 0``   a shared 12-word passage appended (corpus-wide
      gram df ≫ any threshold → passage-scrub work);
    * unique body otherwise: 24-40 words drawn pseudo-randomly from a
      ~50k-word vocabulary, so cross-doc gram collisions are negligible.

    lang: ~4.3% 'de' (i%23==0, filtered), ~4.3% 'es', else 'en'.
    source: 8 strata for the quota sampler.
    """

    def body(j: int) -> str:
        if j % 29 == 0:
            a, b = mix(j, 1) % vocab, mix(j, 2) % vocab
            return " ".join(f"w{a:05d} w{b:05d}" for _ in range(40))
        n = 24 + mix(j, 3) % 17
        ws = [f"w{mix(j, 10 + k) % vocab:05d}" for k in range(n)]
        if j % 11 == 0:
            ws.append(_CORPUS_PASSAGE)
        return " ".join(ws)

    if i % 13 == 12:
        text = body(i - 12)
    elif i % 17 == 16:
        base = i - 16
        ws = body(base).split(" ")
        for pos in (3, 7):
            if pos < len(ws):
                ws[pos] = f"w{mix(i, 90 + pos) % vocab:05d}"
        text = " ".join(ws)
    else:
        text = body(i)
    lang = "de" if i % 23 == 0 else ("es" if i % 23 == 1 else "en")
    return text, lang, f"s{i % 8}"


def gen_documents(spark, n_docs: int, partitions: int = 64):
    """documents(doc_id, text, lang, source) — the corpus-pipeline scaling
    bench's input table, same column family as the driver's documents
    testdata.  Generated distributively (mapInPandas over spark.range)."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("text", T.StringType(), False),
            T.StructField("lang", T.StringType(), False),
            T.StructField("source", T.StringType(), False),
        ]
    )

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            ids = pdf["id"].to_numpy()
            rows = [corpus_doc(int(i)) for i in ids]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "text": [r[0] for r in rows],
                    "lang": [r[1] for r in rows],
                    "source": [r[2] for r in rows],
                }
            )

    return spark.range(0, n_docs, numPartitions=partitions).mapInPandas(
        batches, schema=schema
    )
