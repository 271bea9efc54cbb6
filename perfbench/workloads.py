"""The benchmark's workloads: the live crawl and the analytics queries.

Each workload is a closed loop driven by one client: the next operation (a
crawl round, a query) is issued only after the previous one returns, at no
fixed rate, until the measuring window has elapsed.  Correctness checks run
after the window, outside the timed region.
"""

from __future__ import annotations

import math
import os
import random
import re
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

from statistics import median

from spans import percentile, tail_percentile

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.1")


# ---------------------------------------------------------------------------
# loopback web server for the live crawl
# ---------------------------------------------------------------------------
class _PoolServer(HTTPServer):
    """HTTP server whose requests run on a fixed pool of handler threads."""

    def __init__(self, addr, handler, threads: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)
        self.lock = threading.Lock()
        self.requests = 0
        self.busy_s = 0.0

    def process_request(self, request, client_address):
        self.pool.submit(self._handle, request, client_address)

    def _handle(self, request, client_address):
        t0 = time.monotonic()
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)
            with self.lock:
                self.requests += 1
                self.busy_s += time.monotonic() - t0

    def close(self) -> None:
        self.shutdown()
        self.server_close()
        self.pool.shutdown(wait=True)


def start_web_server(n_pages: int, n_hosts: int, threads: int) -> _PoolServer:
    """Serve synth.html_of for every page id of the synthetic web."""
    from adavnceseo_crawler_spark import synth

    pid_re = re.compile(r"(?:item-|page/)(\d+)")

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            m = pid_re.search(self.path)
            if not m or int(m.group(1)) >= n_pages:
                self.send_error(404)
                return
            body = synth.html_of(int(m.group(1)), n_pages, n_hosts)
            self.send_response(200)
            self.send_header("Content-Type", "text/html")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = _PoolServer(("127.0.0.1", 0), Handler, threads)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


def _tree_size(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


# ---------------------------------------------------------------------------
# crawl_live
# ---------------------------------------------------------------------------
def crawl_live(ctx, spec: dict) -> dict:
    """Full-batch crawl rounds over HTTP from the loopback server with the
    Bloom URL-seen filter.  The seed picks the seed page ids."""
    from adavnceseo_crawler_spark import schemas, synth
    from adavnceseo_crawler_spark.catalog import SnapshotCatalog
    from adavnceseo_crawler_spark.config import CrawlConfig
    from adavnceseo_crawler_spark.plans import loop

    n_pages, n_hosts = spec["pages"], spec["hosts"]
    spark, tr = ctx.spark, ctx.tracer
    srv = start_web_server(n_pages, n_hosts, ctx.cores)
    wh = os.path.join(ctx.work, "warehouse")
    try:
        t0 = time.monotonic()
        with tr.span("inputs"):
            pids = random.Random(ctx.seed).sample(range(n_pages), spec["seeds"])
            seeds = spark.createDataFrame(
                [(synth.url_of(p, n_hosts),) for p in pids], schemas.SEEDS
            )
            robots = synth.gen_robots(spark, n_hosts)
        cfg = CrawlConfig(
            politeness_budget=spec["politeness_budget"],
            batch_size=spec["batch_size"],
            max_rounds=1 << 30,
            fetch_mode="http",
            use_bloom=True,
            http_base_rewrite=("https://", f"http://127.0.0.1:{srv.server_port}/"),
            request_timeout=10.0,
            http_inflight_retries=1,
            http_retry_delay=0.05,
            politeness_delay=0.0,
        )
        cat = SnapshotCatalog(spark, wh)
        tr.wrap("loop.bootstrap", loop.bootstrap)(spark, cat, cfg, seeds, None, robots)
        ctx.setup_s += time.monotonic() - t0
        ctx.mark("inputs_bootstrap")
        files0, bytes0 = _tree_size(wh)
        req0, busy0 = srv.requests, srv.busy_s

        # closed loop: a new round starts only while the window is open;
        # returning done ends run_crawl, which then settles the last round
        rounds: list[dict] = []
        orig = loop.run_round
        deadline = time.monotonic() + ctx.seconds

        def run_round(spark_, cat_, cfg_, round_no, **kw):
            if len(rounds) >= spec["min_rounds"] and time.monotonic() >= deadline:
                return {"round": round_no, "scheduled": 0, "fetched": 0, "done": True}
            sp = tr.open("round.run_round", round=round_no)
            t = time.monotonic()
            try:
                s = orig(spark_, cat_, cfg_, round_no, **kw)
            finally:
                tr.close(sp)
            if not s.get("done"):
                s["wall_s"] = time.monotonic() - t
                rounds.append(s)
            return s

        loop.run_round = run_round
        try:
            t1 = time.monotonic()
            stats = tr.wrap("loop.run_crawl", loop.run_crawl)(spark, cat, cfg)
            wall = time.monotonic() - t1
        finally:
            loop.run_round = orig
        ctx.measured()
        files1, bytes1 = _tree_size(wh)

        out_rounds = [
            {
                "round": s["round"], "wall_s": s["wall_s"], "urls_in": s.get("urls_in"),
                "scheduled": s["scheduled"], "fetched": s["fetched"],
                "links": s["links"], "new_urls": s["new_urls"],
                "wall_ms_in_round_metrics": s.get("wall_ms"),
                "times": s.get("times", {}),
                "commit_walls": s.get("commit_walls", {}),
                "deferred_commit_walls": s.get("deferred_commit_walls", {}),
            }
            for s in stats
        ]
        fetched = sum(r["fetched"] for r in out_rounds)
        links = sum(r["links"] for r in out_rounds)
        walls = [r["wall_s"] for r in out_rounds]
        ctx.ops(len(out_rounds), 0)
        res = {
            "rounds": out_rounds,
            "crawl_wall_s": wall,
            "fetched": fetched,
            "links": links,
            "e2e": {
                "throughput_per_s": (fetched + links) / wall,
                "op_p50_s": median(walls),
                "cold_s": walls[0],
            },
            "report": {
                "crawl_urls_per_s": {"value": (fetched + links) / wall, "unit": "1/s",
                                     "n": len(walls)},
                "round_wall_p50_s": {"value": median(walls), "unit": "s", "n": len(walls)},
            },
            "catalog": {"files_written": files1 - files0, "bytes_written": bytes1 - bytes0},
            "http": {"requests": srv.requests - req0, "server_busy_s": srv.busy_s - busy0},
        }
        check_crawl(ctx, spec, cat, out_rounds)
        return res
    finally:
        srv.close()
        shutil.rmtree(wh, ignore_errors=True)


def check_crawl(ctx, spec: dict, cat, rounds: list[dict]) -> None:
    from pyspark.sql import functions as F

    from adavnceseo_crawler_spark import synth

    n_pages, n_hosts = spec["pages"], spec["hosts"]
    log = cat.read("crawl_log").filter(F.col("success"))

    over = log.groupBy("round", "host").count().filter(
        F.col("count") > spec["politeness_budget"]
    ).count()
    ctx.check("politeness_budget_per_host_round", over == 0, f"{over} (round, host) over budget")

    seen = cat.read("url_seen")
    dup = seen.groupBy("url_hash").count().filter(F.col("count") > 1).count()
    ctx.check("url_seen_unique", dup == 0, f"{dup} duplicate url_hash")

    n, nd = log.agg(F.count(F.lit(1)), F.countDistinct("url")).first()
    ctx.check("no_url_fetched_twice", n == nd, f"{n} fetches of {nd} urls")

    pid_re = re.compile(r"(?:item-|page/)(\d+)")
    rows = cat.read("parsed").select("url", "text").collect()
    bad = [
        r["url"] for r in rows
        if r["text"] != synth.text_of(int(pid_re.search(r["url"]).group(1)), n_pages, n_hosts)
    ]
    ctx.check("text_matches_synth", not bad and len(rows) == n,
              f"{len(bad)} of {len(rows)} texts differ; {len(rows)} parsed vs {n} fetched")

    if ctx.seed == spec["default_seed"]:
        want = spec["default_seed_rounds"]
        got = [[r["fetched"], r["links"]] for r in rounds]
        ctx.check("default_seed_counts", got[:len(want)] == want[:len(got)],
                  f"got {got}, stored {want}")


# ---------------------------------------------------------------------------
# analytics_sf0.1
# ---------------------------------------------------------------------------
def analytics(ctx, spec: dict) -> dict:
    """A cold pass then warm passes of the query set over the sf0.1 tables
    shipped with the benchmark; the seed sets the query order of each pass."""
    from adavnceseo_crawler_spark.queries import QUERIES

    names = list(spec["queries"])
    rng = random.Random(ctx.seed)
    tr = ctx.tracer
    failed = 0

    def one_pass(label: str) -> dict[str, float]:
        nonlocal failed
        order = names[:]
        rng.shuffle(order)
        walls = {}
        psp = tr.open(f"queries.{label}")
        for q in order:
            qsp = tr.open("query", query=q, phase=label)
            t = time.monotonic()
            try:
                with tr.span("query.build"):
                    df = QUERIES[q](ctx.spark, DATA_DIR)
                with tr.span("query.exec"):
                    df.write.mode("overwrite").format("noop").save()
                walls[q] = time.monotonic() - t
            except Exception as e:  # a failed query is a failed operation
                failed += 1
                ctx.note(f"{label} {q} failed: {type(e).__name__}: {str(e)[:200]}")
            finally:
                tr.close(qsp)
        tr.close(psp)
        return walls

    cold = one_pass("cold")
    warm: list[dict[str, float]] = []
    deadline = time.monotonic() + ctx.seconds
    while len(warm) < spec["min_warm_passes"] or time.monotonic() < deadline:
        warm.append(one_pass("warm"))
    ctx.measured()
    ctx.ops(len(names) * (1 + len(warm)), failed)

    samples = [w for p in warm for w in p.values()]
    warm_totals = [sum(p.values()) for p in warm]
    tail = tail_percentile(len(samples))
    report = {
        "queries_cold_s": {"value": sum(cold.values()), "unit": "s", "n": len(cold)},
        "queries_warm_s": {"value": median(warm_totals), "unit": "s", "n": len(warm)},
        "query_p50_s": {"value": median(samples), "unit": "s", "n": len(samples)},
    }
    if tail is not None and tail > 50:
        report[f"query_p{tail:g}_s"] = {
            "value": percentile(samples, tail), "unit": "s", "n": len(samples)
        }
    check_queries(ctx, names)
    return {
        "cold": cold,
        "warm": warm,
        "e2e": {
            "throughput_per_s": len(samples) / sum(warm_totals),
            "op_p50_s": median(samples),
            "cold_s": sum(cold.values()),
        },
        "report": report,
    }


def _norm(v):
    """Value normalisation of tests/test_queries_oracle.py."""
    import decimal

    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _multiset(dicts, cols):
    return sorted(tuple(_norm(d[c]) for c in sorted(cols)) for d in dicts)


def check_queries(ctx, names: list[str]) -> None:
    """Each query against its DuckDB oracle on the same parquet (all eight
    oracles hold at sf0.1)."""
    import duckdb

    from adavnceseo_crawler_spark.queries import ORACLES, QUERIES

    con = duckdb.connect()
    for t in os.listdir(DATA_DIR):
        if t.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{os.path.join(DATA_DIR, t)}'"
            )
    for q in names:
        try:
            sdf = QUERIES[q](ctx.spark, DATA_DIR)
            scols = sdf.columns
            sm = _multiset([r.asDict() for r in sdf.collect()], scols)
            res = con.execute(ORACLES[q])
            ocols = [d[0] for d in res.description]
            om = _multiset([dict(zip(ocols, r)) for r in res.fetchall()], ocols)
            ok = sorted(scols) == sorted(ocols) and sm == om
            why = f"{len(sm)} spark rows vs {len(om)} oracle rows"
        except Exception as e:
            ok, why = False, f"{type(e).__name__}: {str(e)[:200]}"
        ctx.check(f"oracle.{q}", ok, why)
    con.close()
