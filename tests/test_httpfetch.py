"""Real-HTTP fetch operator (S5 cluster path) against an in-process fixture
server: success / 404 / timeout / retry-after-network-error paths, the
per-server lanes (one request in flight per server per fetch task), and the
hit columns shared with the synthetic fetch join."""

import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

UA = "Mozilla/5.0 (compatible; CustomCrawler/1.0; +http://example.com/bot)"


class _Handler(BaseHTTPRequestHandler):
    flaky_hits: dict[str, int] = {}
    seen_agents: list[str] = []
    request_counts: dict[str, int] = {}

    def do_GET(self):  # noqa: N802
        _Handler.seen_agents.append(self.headers.get("User-Agent", ""))
        _Handler.request_counts[self.path] = _Handler.request_counts.get(self.path, 0) + 1
        if self.path.endswith("/missing"):
            self.send_error(404)
            return
        if "/slowpoke" in self.path:
            time.sleep(3)
            self.send_error(504)
            return
        if "/flaky" in self.path:
            n = _Handler.flaky_hits.get(self.path, 0)
            _Handler.flaky_hits[self.path] = n + 1
            if n == 0:
                # drop the connection without a response -> client sees a
                # network error -> in-request retry path
                self.connection.close()
                return
        body = (
            f"<html><head><title>T {self.path}</title></head>"
            f"<body><h1>Head</h1><p>body of {self.path}</p>"
            f'<a href="/next{self.path}">next</a></body></html>'
        ).encode()
        self.send_response(200)
        self.send_header("Content-Type", "text/html")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):  # silence
        pass


@pytest.fixture(scope="module")
def http_server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}/"
    srv.shutdown()


def _scheduled(spark, urls):
    from adavnceseo_crawler_spark.functions.urls import with_url_parts

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return with_url_parts(df).withColumn("depth", F.lit(1))


def test_fetch_paths(spark, http_server):
    from adavnceseo_crawler_spark.operators.httpfetch import http_fetch_batch

    base = http_server
    urls = [
        base + "hostA/page/1",
        base + "hostA/page/2",
        base + "hostB/page/1",
        base + "hostB/missing",
        base + "hostC/flaky/1",
        base + "hostC/slowpoke",
    ]
    res = {
        r["url"]: r
        for r in http_fetch_batch(
            _scheduled(spark, urls),
            user_agent=UA,
            timeout=0.5,
            max_retries=2,
            retry_delay=0.01,
        ).collect()
    }
    ok1 = res[base + "hostA/page/1"]
    assert ok1["success"] and ok1["status_code"] == 200
    assert b"body of /hostA/page/1" in bytes(ok1["html"])
    assert ok1["crawl_time"] is not None and ok1["crawl_time"] >= 0

    miss = res[base + "hostB/missing"]
    assert not miss["success"] and miss["status_code"] == 404
    assert miss["error"] == "status_404" and miss["html"] is None

    flaky = res[base + "hostC/flaky/1"]
    assert flaky["success"] and flaky["status_code"] == 200  # retried

    slow = res[base + "hostC/slowpoke"]
    assert not slow["success"] and slow["status_code"] is None
    assert slow["error"]  # timeout error string, retries exhausted

    # the reference's User-Agent header travels on every request
    assert all(a == UA for a in _Handler.seen_agents if a)


def test_hits_misses_contract_and_parse(spark, http_server):
    """fetch_batch_http output slots straight into the parse stage — same
    contract as the synthetic fetch join (url rewrite maps the canonical web
    onto the fixture server and back)."""
    from adavnceseo_crawler_spark.functions.htmlparse import parse_pages
    from adavnceseo_crawler_spark.operators.httpfetch import fetch_batch_http

    urls = [
        "https://hostA/page/1",
        "https://hostB/page/9",
        "https://hostB/missing",
    ]
    sched = _scheduled(spark, urls).withColumn(
        "discovered_ts", F.lit(None).cast("timestamp")
    ).withColumn("seq", F.lit(0).cast("long")).withColumn("retries", F.lit(0))
    _Handler.request_counts.clear()
    ok, misses, raw = fetch_batch_http(
        sched,
        user_agent=UA,
        base_url_rewrite=("https://", http_server),
        timeout=2.0,
        max_retries=1,
        retry_delay=0.01,
    )
    hits = ok.collect()
    assert sorted(r["url"] for r in hits) == [
        "https://hostA/page/1",
        "https://hostB/page/9",
    ]
    for r in hits:
        assert r["success"] and r["status_code"] == 200
        assert r["warc_ts"] is None and r["src_lang"] is None

    parsed = parse_pages(ok, passthrough=["url_hash", "host", "status_code"]).collect()
    by_url = {p["url"]: p for p in parsed}
    assert by_url["https://hostA/page/1"]["title"] == "T /hostA/page/1"
    assert "body of /hostA/page/1" in by_url["https://hostA/page/1"]["text"]
    assert by_url["https://hostA/page/1"]["links"]  # discovered links flow on

    m = misses.collect()
    assert [r["url"] for r in m] == ["https://hostB/missing"]
    assert m[0]["status_code"] == 404 and not m[0]["success"]
    assert m[0]["retries"] == 0  # frontier columns preserved for requeue

    # the network stage ran EXACTLY ONCE despite multiple downstream actions
    # (ok.collect, parse.collect, misses.collect) — fetch_batch_http persists
    # the mapInPandas result before splitting (live HTTP is nondeterministic;
    # re-execution could duplicate or lose rows)
    assert all(n == 1 for n in _Handler.request_counts.values()), (
        _Handler.request_counts
    )
    raw.unpersist()


def test_fetch_lanes_group_by_server():
    """Lanes are keyed by the server dialed: hosts rewritten onto one netloc
    share a lane, distinct netlocs get distinct lanes, and each host keeps
    its row order (hosts take turns inside a lane)."""
    from adavnceseo_crawler_spark.operators.httpfetch import fetch_lanes

    rows = [
        ("http://127.0.0.1:9000/a/1", "a"),
        ("http://127.0.0.1:9000/b/1", "b"),
        ("http://127.0.0.1:9000/a/2", "a"),
        ("https://c.example/1", "c.example"),
        ("http://127.0.0.1:9000/a/3", "a"),
        ("https://d.example/1", "d.example"),
        ("https://c.example/2", "c.example"),
    ]
    # hosts a and b share the rewritten server's lane and take turns in it;
    # each host keeps its own row order
    assert fetch_lanes(*zip(*rows)) == [[0, 1, 2, 4], [3, 6], [5]]
    # without a rewrite every host is its own server
    plain = [(f"https://h{k % 3}.example/{k}", f"h{k % 3}.example") for k in range(7)]
    assert fetch_lanes(*zip(*plain)) == [[0, 3, 6], [1, 4], [2, 5]]


class _LaneHandler(BaseHTTPRequestHandler):
    """Holds each request briefly and records the peak number in flight and
    each path's arrival time (server clock)."""

    lock = threading.Lock()
    inflight = 0
    peak = 0
    arrivals: list[tuple[str, float]] = []

    def do_GET(self):  # noqa: N802
        cls = _LaneHandler
        with cls.lock:
            cls.arrivals.append((self.path, time.monotonic()))
            cls.inflight += 1
            cls.peak = max(cls.peak, cls.inflight)
        try:
            time.sleep(0.02)
            body = b"<html><body>ok</body></html>"
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        finally:
            with cls.lock:
                cls.inflight -= 1

    def log_message(self, *a):  # silence
        pass


def test_one_connection_per_server_per_fetch_task(spark):
    """With every host rewritten onto one server, each fetch task holds at
    most one connection to it: the server never sees more requests in flight
    than there are fetch tasks, and a host's requests stay at least
    politeness_delay apart."""
    from adavnceseo_crawler_spark.operators.httpfetch import fetch_batch_http

    class _Server(ThreadingHTTPServer):
        request_queue_size = 128  # no dropped SYNs: measure the client only

    _LaneHandler.arrivals.clear()
    _LaneHandler.peak = 0
    srv = _Server(("127.0.0.1", 0), _LaneHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    delay = 0.05
    urls = [f"https://lanehost{k % 20}/page/{k}" for k in range(40)]
    try:
        ok, _, raw = fetch_batch_http(
            _scheduled(spark, urls),
            user_agent=UA,
            base_url_rewrite=("https://", f"http://127.0.0.1:{srv.server_port}/"),
            timeout=5.0,
            max_retries=0,
            politeness_delay=delay,
        )
        assert sorted(r["url"] for r in ok.collect()) == sorted(urls)
        # tasks that fetched = partitions of the persisted fetch result
        n_tasks = raw.select(F.spark_partition_id()).distinct().count()
        raw.unpersist()
    finally:
        srv.shutdown()
        srv.server_close()

    assert len(_LaneHandler.arrivals) == 40
    assert 1 <= _LaneHandler.peak <= n_tasks, (_LaneHandler.peak, n_tasks)
    by_host: dict[str, list[float]] = {}
    for path, t in _LaneHandler.arrivals:
        by_host.setdefault(path.split("/")[1], []).append(t)
    assert len(by_host) == 20
    for host, ts in by_host.items():
        ts.sort()
        assert all(b - a >= delay for a, b in zip(ts, ts[1:])), (host, ts)


def test_full_crawl_rounds_over_http(spark, http_server, tmp_path):
    """The whole BSP loop with fetch_mode='http': seeds -> robots ->
    politeness -> real HTTP fetch -> parse -> link discovery -> next round,
    against the in-process fixture server."""
    from adavnceseo_crawler_spark import schemas
    from adavnceseo_crawler_spark.catalog import SnapshotCatalog
    from adavnceseo_crawler_spark.config import CrawlConfig
    from adavnceseo_crawler_spark.plans import loop

    cfg = CrawlConfig(
        politeness_budget=5,
        batch_size=20,
        max_rounds=2,
        fetch_mode="http",
        http_base_rewrite=("https://", http_server),
        request_timeout=2.0,
        http_inflight_retries=1,
        http_retry_delay=0.01,
        politeness_delay=0.02,  # real sleeps, scaled down for the fixture
    )
    cat = SnapshotCatalog(spark, str(tmp_path / "httpwh"))
    seeds = spark.createDataFrame(
        [("https://hosta/page/1",), ("https://hostb/page/2",),
         ("https://hostb/missing",)],
        schemas.SEEDS,
    )
    robots = spark.createDataFrame([], schemas.ROBOTS)
    loop.bootstrap(spark, cat, cfg, seeds, None, robots)
    # http mode reads no web table, and bootstrap writes no empty table
    for t in ("web", "url_metadata", "crawl_log", "domain_stats",
              "frontier_consumed"):
        assert cat.latest(t) is None, t
    stats = loop.run_crawl(spark, cat, cfg)

    assert stats[0]["fetched"] == 2 and stats[0]["failed"] == 1
    # the fixture pages link to /next<path> -> round 1 crawls discovered urls
    assert stats[0]["new_urls"] >= 2 and stats[1]["fetched"] >= 2
    log = cat.read("crawl_log").collect()
    assert any(r["status_code"] == 404 and not r["success"] for r in log)
    texts = {r["url"]: r["text"] for r in cat.read("pages").collect()}
    assert "body of /hosta/page/1" in texts["https://hosta/page/1"]

    # url_metadata is merge-on-read: the RESOLVED view is latest-per-key
    from adavnceseo_crawler_spark.catalog import resolve_latest

    meta = resolve_latest(cat.read("url_metadata"), "url_hash", "last_crawled")
    assert meta.count() == meta.select("url_hash").distinct().count()


def test_url_metadata_compaction_constant_size(spark, tmp_path):
    """url_metadata under merge-on-read must not grow without bound: normal
    rounds append O(delta) rows, and a compact round (cfg.compact_every)
    rewrites the latest-per-key base — after it, physical rows equal the
    number of distinct urls ever attempted, so the per-round read cost is
    bounded by base + compact_every deltas, constant in round number."""
    from adavnceseo_crawler_spark import synth
    from adavnceseo_crawler_spark.catalog import SnapshotCatalog
    from adavnceseo_crawler_spark.config import CrawlConfig
    from adavnceseo_crawler_spark.plans import loop

    # compact_every=2 with 4 rounds: rounds 1 and 3 compact; the run ends on
    # a freshly-compacted base so the physical row count is exactly distinct
    cfg = CrawlConfig(
        politeness_budget=3, batch_size=30, max_rounds=4, compact_every=2
    )
    cat = SnapshotCatalog(spark, str(tmp_path / "compwh"))
    loop.bootstrap(
        spark, cat, cfg,
        synth.gen_seeds(spark, 200, 6),
        synth.gen_pages(spark, 200, 6, partitions=4),
        synth.gen_robots(spark, 6),
    )
    loop.run_crawl(spark, cat, cfg)
    meta = cat.read("url_metadata")
    n_rows = meta.count()
    assert n_rows == meta.select("url_hash").distinct().count()
    attempted = (
        cat.read("crawl_log")
        .filter("error IS NULL OR error <> 'robots_disallowed'")
        .select("url_hash").distinct().count()
    )
    assert n_rows == attempted
