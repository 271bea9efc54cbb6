"""Repo benchmark: one workload per invocation, closed loop, local[nproc].

    python3 perfbench/run.py --workload crawl_live --seed 1 --seconds 20 --trace 0

Run from the repository root.  With ``--trace 0`` the last stdout line is
one JSON object carrying the end-to-end metrics; with ``--trace 1`` the same
workload runs with Spark's event log on and spans recorded around calls into
the program, and the last line carries the per-layer metrics instead.  Every
run also writes a results file (structured per-round stage walls, host
stamps, correctness checks) under ``.perfbench/results/``; a traced run adds
its span file and the tracing overhead against the latest untraced run of
the same workload.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
RESULTS = os.path.join(STATE, "results")
sys.path[:0] = [HERE, ROOT]

from spans import (  # noqa: E402
    Tracer,
    attribute_jobs,
    jobs_under,
    read_event_log,
    subtree_ids,
)

with open(os.path.join(HERE, "spec.json")) as _f:
    SPEC = json.load(_f)
E2E_UNITS = {"setup_s": "s", "throughput_per_s": "1/s", "op_p50_s": "s", "cold_s": "s"}
CATALOG_TABLES = (
    "url_metadata", "frontier", "frontier_consumed", "domain_stats", "round_metrics",
    "pages", "parsed", "crawl_log", "url_seen", "bloom_shards",
)


def per_layer_names() -> list[str]:
    names = ["session.start_s", "loop.bootstrap_s", "loop.settle_tail_s"]
    names += [f"round.{m}" for m in (
        "wall_s", "schedule_s", "metrics_s", "commits_s", "settle_prev_s", "jobs",
        "fetch_parse_links_s", "dedup_s", "task_s", "shuffle_write_bytes",
        "shuffle_read_bytes", "spill_bytes", "core_util", "fetch_ratio",
    )]
    names += ["dedup.new_url_ratio"]
    names += [f"catalog.commit.{t}_s" for t in CATALOG_TABLES]
    names += ["catalog.bytes_written", "catalog.files_written"]
    names += ["http.requests", "http.server_busy_s", "http.fetched_per_s"]
    names += [f"queries.{m}" for m in (
        "build_s", "jobs_build", "exec_s", "jobs_exec", "task_s", "core_util",
        "shuffle_write_bytes", "spill_bytes", "python_bytes",
    )]
    names += [f"query.{q}.wall_s" for q in SPEC["workloads"]["analytics_sf0.1"]["queries"]]
    return names


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("_util", "_ratio")):
        return "ratio"
    return "count"


# ---------------------------------------------------------------------------
# host and process helpers
# ---------------------------------------------------------------------------
def host_stamp() -> dict:
    """Load average and single-process memory bandwidth (BENCH/memprobe.py,
    shortened to half a second)."""
    stamp = {"loadavg": list(os.getloadavg())}
    try:
        sys.path.insert(0, os.path.join(ROOT, "BENCH"))
        import memprobe

        memprobe.SECS = 0.5
        stamp["mem_gbps"] = memprobe.run(1)
    except Exception as e:  # the stamp is evidence, not a gate
        stamp["mem_gbps_error"] = f"{type(e).__name__}: {e}"
    return stamp


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        out.setdefault(ppid, []).append(int(d))
    return out


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak of (driver JVM + its Python workers) resident set, sampled; the
    JVM's share at that peak is kept beside it."""

    def __init__(self, pid: int, every: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.every, self.peak_kb, self.jvm_kb = pid, every, 0, 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            jvm = _rss_kb(self.pid)
            kb = jvm + sum(_rss_kb(p) for p in descendants(self.pid))
            if kb > self.peak_kb:
                self.peak_kb, self.jvm_kb = kb, jvm
            self._stop_evt.wait(self.every)

    def stop(self) -> tuple[float, float]:
        self._stop_evt.set()
        self.join()
        return self.peak_kb / 1024.0, self.jvm_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, end the JVM, and wait for every process under it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if proc is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 15
        while kids and time.monotonic() < deadline:
            kids = [k for k in kids if os.path.exists(f"/proc/{k}")
                    and not _is_zombie(k)]
            time.sleep(0.1)
        for k in kids:
            try:
                os.kill(k, signal.SIGKILL)
            except OSError:
                pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# ---------------------------------------------------------------------------
# run context
# ---------------------------------------------------------------------------
class Ctx:
    def __init__(self, args, work: str, cores: int):
        self.seed, self.seconds, self.cores, self.work = args.seed, args.seconds, cores, work
        self.tracer = Tracer(enabled=bool(args.trace))
        self.spark = None
        self.sampler: RssSampler | None = None
        self.peak_rss_mb = self.peak_jvm_mb = 0.0
        self.setup_s = 0.0
        self.session_s = 0.0
        self.attempted = self.failed = 0
        self.checks: list[dict] = []
        self.notes: list[str] = []
        self.marks: list[tuple[str, float]] = [("start", time.monotonic())]

    def mark(self, phase: str) -> None:
        """End of a run phase; the results file lists each phase's wall."""
        self.marks.append((phase, time.monotonic()))

    def ops(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1
        self.checks.append({"name": name, "ok": bool(ok), "detail": detail})

    def note(self, msg: str) -> None:
        self.notes.append(msg)

    def measured(self) -> None:
        """End of the measuring window: the memory peak stops here."""
        self.mark("measure")
        if self.sampler is not None:
            self.peak_rss_mb, self.peak_jvm_mb = self.sampler.stop()
            self.sampler = None


def _warm_import_probe(batches):
    import adavnceseo_crawler_spark  # noqa: F401

    for b in batches:
        yield b


def start_session(ctx: Ctx, trace_dir: str | None) -> None:
    from adavnceseo_crawler_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(ctx.work, 'tmp')}",
    }
    if trace_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + trace_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.monotonic()
    sp = ctx.tracer.open("session.get_spark")
    ctx.spark = get_spark(
        "perfbench", master=f"local[{ctx.cores}]", shuffle_partitions=ctx.cores,
        extra_conf=conf,
    )
    ctx.tracer.close(sp)
    ctx.session_s = time.monotonic() - t0
    ctx.setup_s += ctx.session_s
    from pyspark import SparkContext

    ctx.sampler = RssSampler(SparkContext._gateway.proc.pid)
    ctx.sampler.start()
    # a worker that cannot import the package makes get_spark's warm-up a
    # silent no-op; probe it outside setup_s and count it as an operation
    try:
        ctx.spark.range(1, numPartitions=1).mapInPandas(
            _warm_import_probe, "id long"
        ).collect()
        ok, detail = True, ""
    except Exception as e:
        ok, detail = False, f"{type(e).__name__}: {str(e)[:300]}"
    ctx.ops(1, 0 if ok else 1)
    ctx.checks.append({"name": "worker_imports_package", "ok": ok, "detail": detail})


def patch_catalog(tracer: Tracer):
    from adavnceseo_crawler_spark.catalog import SnapshotCatalog

    saved = {}
    for m in ("commit", "commit_many", "commit_many_async", "commit_settle"):
        saved[m] = getattr(SnapshotCatalog, m)
        attrs = (lambda _cat, table, *a, **k: {"table": table}) if m == "commit" else None
        setattr(SnapshotCatalog, m, tracer.wrap(f"catalog.{m}", saved[m], attrs))

    def restore():
        for m, f in saved.items():
            setattr(SnapshotCatalog, m, f)

    return restore


# ---------------------------------------------------------------------------
# per-layer metrics from spans, the event log and the workload's results
# ---------------------------------------------------------------------------
def layer_metrics(workload: str, ctx: Ctx, res: dict, jobs) -> dict[str, float]:
    tr, cores = ctx.tracer, ctx.cores
    spans = tr.spans
    owned = attribute_jobs(spans, jobs)
    m = dict.fromkeys(per_layer_names(), 0.0)
    m["session.start_s"] = ctx.session_s

    def named(n):
        return [s for s in spans if s.name == n and s.end is not None]

    def job_sum(jids, attr):
        return sum(getattr(jobs[j], attr) for j in jids)

    if workload == "crawl_live":
        rounds = res["rounds"]
        rsp = named("round.run_round")
        m["loop.bootstrap_s"] = sum(s.dur for s in named("loop.bootstrap"))
        last_end = max(s.end for s in rsp)
        m["loop.settle_tail_s"] = sum(
            s.dur for s in named("catalog.commit_settle") if s.start >= last_end
        )
        per = []
        for s in rsp:
            jids = jobs_under(spans, owned, s.sid)
            task = job_sum(jids, "task_s")
            per.append({
                "wall": s.dur, "jobs": len(jids), "task": task,
                "sw": job_sum(jids, "shuffle_write"), "sr": job_sum(jids, "shuffle_read"),
                "spill": job_sum(jids, "spill"), "util": task / (s.dur * cores),
            })
        for k, name in (("wall", "wall_s"), ("jobs", "jobs"), ("task", "task_s"),
                        ("sw", "shuffle_write_bytes"), ("sr", "shuffle_read_bytes"),
                        ("spill", "spill_bytes"), ("util", "core_util")):
            m[f"round.{name}"] = median([p[k] for p in per])
        for stage in ("schedule", "fetch_parse_links", "settle_prev", "dedup",
                      "metrics", "commits"):
            m[f"round.{stage}_s"] = median([r["times"].get(stage, 0.0) for r in rounds])
        m["round.fetch_ratio"] = (
            sum(r["fetched"] for r in rounds) / max(1, sum(r["scheduled"] for r in rounds))
        )
        m["dedup.new_url_ratio"] = (
            sum(r["new_urls"] for r in rounds) / max(1, sum(r["links"] for r in rounds))
        )
        commits = named("catalog.commit")
        for t in CATALOG_TABLES:
            m[f"catalog.commit.{t}_s"] = median([
                {**r["commit_walls"], **r["deferred_commit_walls"]}.get(t, 0.0)
                + sum(c.dur for c in commits if c.attrs.get("table") == t
                      and s.start <= c.start <= s.end)
                for r, s in zip(rounds, rsp)
            ])
        n = len(rounds)
        m["catalog.bytes_written"] = res["catalog"]["bytes_written"] / n
        m["catalog.files_written"] = res["catalog"]["files_written"] / n
        m["http.requests"] = res["http"]["requests"]
        m["http.server_busy_s"] = res["http"]["server_busy_s"]
        fpl = sum(r["times"].get("fetch_parse_links", 0.0) for r in rounds)
        m["http.fetched_per_s"] = res["http"]["requests"] / fpl if fpl else 0.0
    else:
        per = []
        for p in named("queries.warm"):
            sub = subtree_ids(spans, p.sid)
            build = [s for s in spans if s.sid in sub and s.name == "query.build"]
            exe = [s for s in spans if s.sid in sub and s.name == "query.exec"]
            jb = [j for s in build for j in owned.get(s.sid, [])]
            je = [j for s in exe for j in owned.get(s.sid, [])]
            jall = jobs_under(spans, owned, p.sid)
            task = job_sum(jall, "task_s")
            per.append({
                "build_s": sum(s.dur for s in build), "jobs_build": len(jb),
                "exec_s": sum(s.dur for s in exe), "jobs_exec": len(je),
                "task_s": task, "core_util": task / (p.dur * cores),
                "shuffle_write_bytes": job_sum(jall, "shuffle_write"),
                "spill_bytes": job_sum(jall, "spill"),
                "python_bytes": job_sum(jall, "python_bytes"),
            })
        for k in per[0]:
            m[f"queries.{k}"] = median([p[k] for p in per])
        for q in SPEC["workloads"][workload]["queries"]:
            walls = [p[q] for p in res["warm"] if q in p]
            m[f"query.{q}.wall_s"] = median(walls) if walls else 0.0
    return m


# ---------------------------------------------------------------------------
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wspec = SPEC["workloads"][args.workload]
    if args.seed is None:
        args.seed = wspec.get("default_seed", 1)

    import adavnceseo_crawler_spark  # noqa: F401  (fails outside a checkout)
    from workloads import analytics, crawl_live

    cores = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(STATE, "work", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(RESULTS, exist_ok=True)
    # keep every scratch write inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # get_spark's 24g default heap does not fit small machines
    with open("/proc/meminfo") as f:
        total_gb = int(f.readline().split()[1]) / 1024 / 1024
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(2, min(8, int(total_gb // 4)))}g"

    ctx = Ctx(args, work, cores)
    trace_dir = os.path.join(work, "eventlog") if args.trace else None
    if trace_dir:
        os.makedirs(trace_dir)
    restore = patch_catalog(ctx.tracer) if args.trace else (lambda: None)
    stamp_pre = host_stamp()
    ctx.mark("host_probe")
    try:
        start_session(ctx, trace_dir)
        ctx.mark("session")
        run = crawl_live if args.workload == "crawl_live" else analytics
        res = run(ctx, wspec)
        ctx.mark("checks")
    finally:
        restore()
        if ctx.sampler is not None:
            ctx.measured()
        if ctx.spark is not None:
            stop_spark(ctx.spark)
    ctx.mark("stop")
    stamp_post = host_stamp()
    ctx.mark("host_probe")

    e2e = {"setup_s": ctx.setup_s, **res["e2e"]}
    out = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "host": {"pre": stamp_pre, "post": stamp_post},
        "end_to_end": e2e,
        "report": {
            "setup_s": {"value": ctx.setup_s, "unit": "s", "n": 1},
            **res["report"],
            "peak_rss_mb": {"value": ctx.peak_rss_mb, "unit": "MB", "n": 1,
                            "jvm_share_mb": ctx.peak_jvm_mb},
            "failed_ratio": {"value": ctx.failed / ctx.attempted, "unit": "ratio",
                             "n": ctx.attempted},
        },
        "checks": ctx.checks,
        "notes": ctx.notes,
        **{k: v for k, v in res.items() if k not in ("e2e", "report")},
    }
    if args.trace:
        with open(os.path.join(trace_dir, os.listdir(trace_dir)[0])) as f:
            jobs = read_event_log(f)
        layer = layer_metrics(args.workload, ctx, res, jobs)
        out["per_layer"] = layer
        base = os.path.join(RESULTS, f"{args.workload}-t0-last.json")
        if os.path.exists(base):
            with open(base) as f:
                ref = json.load(f)
            out["tracing_overhead"] = {
                k: v - ref["end_to_end"][k] for k, v in e2e.items()
            } | {"untraced_seed": ref["seed"]}
        owned = attribute_jobs(ctx.tracer.spans, jobs)
        span_file = os.path.join(RESULTS, f"{tag}-spans.json")
        with open(span_file, "w") as f:
            json.dump({
                "spans": ctx.tracer.dump(),
                "jobs_by_span": {str(k): v for k, v in owned.items()},
                "jobs": {j.job_id: vars(j) for j in jobs.values()},
            }, f)
        out["span_file"] = span_file
        ctx.mark("trace_files")
    out["phases"] = [
        {"phase": n, "s": t - t0} for (_, t0), (n, t) in zip(ctx.marks, ctx.marks[1:])
    ]
    with open(os.path.join(RESULTS, f"{tag}.json"), "w") as f:
        json.dump(out, f, indent=1)
    if not args.trace:
        shutil.copy(os.path.join(RESULTS, f"{tag}.json"),
                    os.path.join(RESULTS, f"{args.workload}-t0-last.json"))
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"report": out["report"], "host": out["host"]}))
    for c in ctx.checks:
        if not c["ok"]:
            print(f"check failed: {c['name']}: {c['detail']}")
    if "tracing_overhead" in out:
        print(json.dumps({"tracing_overhead": out["tracing_overhead"]}))
    if args.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in out["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": all(c["ok"] for c in ctx.checks) and ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
