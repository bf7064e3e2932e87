"""The benchmark's workloads: a crawl through ``CrawlRun`` and the offline
jobs a crawl runs between legs.

Each runner receives a live SparkSession, the seed, the measuring time
and an optional Tracer, and returns an ``Outcome``. Set-up is timed apart
from the measured part; correctness checks run after both clocks stop.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import timedelta

from perfbench import metrics, procfs
from perfbench.inputs import StateSpec, WebSpec, crawl_inputs, offline_inputs

# ---- sizes (see perfbench/README.md for why) -------------------------------
WIDE_WEB = WebSpec(num_hosts=250, pages_per_host=20, hot_hosts=12,
                   hot_factor=10, n_seeds=500)
OFFLINE_STATE = StateSpec(num_hosts=300, pages_per_host=25, trap_urls=1200,
                          deltas=3, update_frac=0.15, supersteps=2,
                          fetched_frac=0.3, sick_frac=0.05, docs=2000)


def wide_config():
    from sparkcrawl.config import CrawlConfig

    return CrawlConfig(num_queues=64, active_queues=64, per_queue_budget=400,
                       bloom_capacity_per_shard=1 << 12)


def offline_config():
    from sparkcrawl.config import CrawlConfig

    return CrawlConfig(num_queues=16, active_queues=8)


@dataclass
class Outcome:
    setup_s: float = 0.0          # input generation + bootstrap / state build
    rounds_s: list[float] = field(default_factory=list)  # one entry per timed round
    ops_s: list[float] = field(default_factory=list)     # one per operation
    rounds_cpu_s: list[float] = field(default_factory=list)  # CPU seconds per round
    attempted: int = 0
    failed: int = 0
    rows: int = 0                 # fetched URLs (crawl) / rows touched (offline)
    peak_rss_mb: float = 0.0
    window: tuple[float, float] = (0.0, 0.0)  # perf_counter bounds of the timed part
    report: dict = field(default_factory=dict)  # workload-specific figures
    layers: dict = field(default_factory=dict)  # per-layer metrics (traced run)
    errors: list[str] = field(default_factory=list)


def table_column(store, column: str) -> list:
    """One column of every committed delta of a store table, read from the
    parquet files directly (an independent reader, and no Spark job)."""
    import pyarrow.parquet as pq

    out = []
    for d in store.snapshot():
        out += pq.read_table(d["path"], columns=[column]).column(column).to_pylist()
    return out


def tree_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            p = os.path.join(d, name)
            out[p] = os.path.getsize(p)
    return out


# ---- tracing: spans around each layer's public functions --------------------

def install_layer_spans(tracer) -> None:
    import sparkcrawl.operators.schedule as schedule
    import sparkcrawl.plans.superstep as superstep
    from sparkcrawl.operators.membership import BloomStore
    from sparkcrawl.sources import store

    tracer.wrap(superstep.CrawlRun, "run_superstep", "superstep")
    # plans.superstep imports these by name: patch them where it looks
    for attr, name in (
        ("select_fetch_batch", "schedule.select_fetch_batch"),
        ("robots_gate", "robots.gate"),
        ("synthetic_fetch", "fetch.synthetic"),
        ("extract_links_and_spans", "extract.links_and_spans"),
        ("documents_from_fetch", "extract.documents"),
        ("batch_distinct", "dedup.batch_distinct"),
        ("filter_unseen", "dedup.filter_unseen"),
        ("apply_outcomes", "prioritize.apply_outcomes"),
        ("frontier_rows_from_urls", "canon.frontier_rows"),
    ):
        tracer.wrap(superstep, attr, name)
    # imported inside run_superstep at call time, so the module attribute
    tracer.wrap(schedule, "ranked_in_total_order", "schedule.rank_total_order")

    def blob_bytes(attrs, args, kwargs, result):
        attrs["blob_bytes"] = os.path.getsize(args[0]._path())

    tracer.wrap(BloomStore, "update", "membership.update", after=blob_bytes)
    tracer.wrap(BloomStore, "load", "membership.load")

    def deltas_read(pos):
        def after(attrs, args, kwargs, result):
            snap = kwargs.get("snapshot", args[pos] if len(args) > pos else None)
            attrs["deltas"] = len(snap) if snap is not None else args[0].store.num_deltas
        return after

    tracer.wrap(store.FrontierTable, "read", "store.frontier_read", after=deltas_read(3))
    tracer.wrap(store.FrontierTable, "seen_keys", "store.seen_keys", after=deltas_read(2))
    tracer.wrap(store.FrontierTable, "merge", "store.frontier_merge")
    tracer.wrap(store.FrontierTable, "compact", "store.compact")
    tracer.wrap(store.DocumentsTable, "append", "store.documents_append")
    tracer.wrap(store.FetchLogTable, "append", "store.fetch_log_append")
    tracer.wrap(store.CheckpointLog, "commit", "store.checkpoint_commit")


def store_layers(tracer, window, units: int) -> dict[str, float]:
    """Store-layer figures over the timed window, per round."""
    reads = tracer.named("store.frontier_read", window) + tracer.named(
        "store.seen_keys", window)
    return {
        "store.checkpoint_commit_s": tracer.total("store.checkpoint_commit", window) / units,
        "store.fetch_log_append_s": tracer.total("store.fetch_log_append", window) / units,
        "store.documents_append_s": tracer.total("store.documents_append", window) / units,
        "store.frontier_merge_s": tracer.total("store.frontier_merge", window) / units,
        "store.frontier_read_s": (tracer.total("store.frontier_read", window)
                                  + tracer.total("store.seen_keys", window)) / units,
        "store.deltas_per_read": (
            metrics.median([s["attrs"]["deltas"] for s in reads]) if reads else 0.0),
        "store.compact_s": tracer.total("store.compact", window) / units,
    }


# ---- crawl-wide ---------------------------------------------------------------

def run_crawl(spark, workdir: str, seed: int, seconds: float, tracer=None) -> Outcome:
    from sparkcrawl.plans.superstep import CrawlRun
    from sparkcrawl.schemas import ROBOTS_SCHEMA, SEEDS_SCHEMA, WEB_SCHEMA

    cfg = wide_config()
    out = Outcome()
    sc = spark.sparkContext
    jvm = sc._gateway.proc.pid

    t0 = time.perf_counter()
    web, robots, seeds = crawl_inputs(seed, WIDE_WEB)
    run = CrawlRun(
        spark, workdir, cfg,
        spark.createDataFrame(web, schema=WEB_SCHEMA),
        spark.createDataFrame(robots, schema=ROBOTS_SCHEMA),
    )
    run.bootstrap(spark.createDataFrame(seeds, schema=SEEDS_SCHEMA))
    out.setup_s = time.perf_counter() - t0

    before = tree_files(workdir) if tracer else {}
    stats, groups = [], []
    start = time.perf_counter()
    while not stats or time.perf_counter() - start < seconds:
        out.attempted += 1
        if tracer:
            groups.append(f"bench-superstep-{out.attempted}")
            sc.setJobGroup(groups[-1], "benchmark superstep")
        cpu = procfs.cpu_s(jvm)
        t = time.perf_counter()
        try:
            (st,) = run.resume(1)
        except Exception as e:  # a raising superstep is a failed operation
            out.failed += 1
            out.errors.append(f"superstep {out.attempted}: {e!r}")
            break
        out.ops_s.append(time.perf_counter() - t)
        out.rounds_cpu_s.append(procfs.cpu_s(jvm) - cpu)
        stats.append(st)
        if st.batch_size == 0 and st.pending_after == 0:
            break
    out.window = (start, time.perf_counter())
    out.rounds_s = list(out.ops_s)
    out.peak_rss_mb = procfs.peak_rss_mb(jvm)
    if tracer:
        sc.setLocalProperty("spark.jobGroup.id", None)

    fetched = sum(s.fetched for s in stats)
    new = sum(s.new_urls for s in stats)
    discovered = sum(s.discovered for s in stats)
    out.rows = fetched
    timed = sum(out.ops_s) or float("nan")
    out.report = {
        "supersteps": len(stats),
        "batch_rows": [s.batch_size for s in stats],
        "fetched": fetched,
        "new_urls": new,
        "superstep_s.p50": metrics.median(out.ops_s) if out.ops_s else None,
        "fetched_per_s": fetched / timed,
        "new_urls_per_s": new / timed,
        "web_pages": len(web),
        "seeds": len(seeds),
    }

    if stats:
        failures = check_crawl(run, cfg, web, robots, seeds, stats)
        bad = {s for s, _ in failures}
        out.failed += len(bad)
        out.errors += [msg for _, msg in failures]

    if tracer:
        w = out.window
        n = max(len(stats), 1)
        spans = tracer.named("superstep", w)
        st_tracker = sc.statusTracker()
        jobs, tasks = [], []
        for g in groups[: len(stats)]:
            ids = st_tracker.getJobIdsForGroup(g)
            jobs.append(len(ids))
            n_tasks = 0
            for jid in ids:
                info = st_tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    si = st_tracker.getStageInfo(sid)
                    n_tasks += si.numCompletedTasks if si else 0
            tasks.append(n_tasks)
        after = tree_files(workdir)
        new_files = {p: b for p, b in after.items() if p not in before}
        updates = tracer.named("membership.update", w)
        out.layers = {
            "superstep.spark_jobs": metrics.median(jobs) if jobs else 0.0,
            "superstep.spark_tasks": metrics.median(tasks) if tasks else 0.0,
            "superstep.self_s": metrics.median(
                metrics.self_time(s["start"], s["end"],
                                  [(c["start"], c["end"]) for c in tracer.children(s)])
                for s in spans) if spans else 0.0,
            "membership.update_s": tracer.total("membership.update", w) / n,
            "membership.blob_bytes": updates[-1]["attrs"]["blob_bytes"] if updates else 0.0,
            "store.bytes_written_per_fetch": sum(new_files.values()) / max(fetched, 1),
            "store.files_written": len(new_files) / n,
            "schedule.rank_total_order_s": tracer.total("schedule.rank_total_order", w) / n,
            "schedule.batch_rows": metrics.median(s.batch_size for s in stats) if stats else 0.0,
            "dedup.new_ratio": new / discovered if discovered else 0.0,
            "robots.denied": sum(s.denied for s in stats) / n,
            **store_layers(tracer, w, n),
        }
    return out


def check_crawl(run, cfg, web, robots, seeds, stats) -> list[tuple[int, str]]:
    """Fetch order per superstep, seen count per superstep and the final
    URL-seen set must equal the sequential reference crawler's on the same
    inputs and config. Returns (superstep, message) per failed check."""
    from datetime import timedelta as td

    from tests.reference_sim import SeqCrawler

    sim = SeqCrawler(cfg, web, robots)
    sim.seed(seeds)
    t = cfg.t0
    sim_seen = {}
    for s in range(1, stats[-1].superstep + 1):
        sim.superstep(s, t)
        sim_seen[s] = len(sim.frontier)
        pending = [r["next_date"] for r in sim.frontier.values() if r["state"] == "pending"]
        floor = t + td(seconds=cfg.tick_seconds)
        t = max(floor, min(pending)) if pending else floor

    log = zip(*(table_column(run.fetch_log.store, c) for c in ("superstep", "rank", "url")))
    got: dict[int, list] = {}
    for row in log:
        got.setdefault(row[0], []).append(row)
    want: dict[int, list] = {}
    for row in sim.fetch_log:
        want.setdefault(row[0], []).append(row)
    failures = []
    for st in stats:
        s = st.superstep
        if sorted(got.get(s, [])) != sorted(want.get(s, [])):
            failures.append((s, f"superstep {s}: fetch order differs from the reference"))
        if st.seen_total != sim_seen[s]:
            failures.append((s, f"superstep {s}: {st.seen_total} URLs seen, reference {sim_seen[s]}"))
    seen = sorted(set(table_column(run.frontier.store, "url_hash")))
    if seen != sim.seen_hashes:
        failures.append((stats[-1].superstep, "final URL-seen set differs from the reference"))
    return failures


# ---- offline --------------------------------------------------------------------

def build_offline_state(spark, workdir: str, seed: int) -> dict:
    """Write a crawl state through the store's public API: a frontier of
    ``deltas`` uncompacted deltas, a fetch log with >= 2 observations per
    fetched URL, and checkpoints. The curation corpus stays in memory."""
    from pyspark.sql import functions as F

    from sparkcrawl.functions.hashing import url_sha1
    from sparkcrawl.operators.prioritize import outcome_class
    from sparkcrawl.plans.superstep import frontier_rows_from_urls
    from sparkcrawl.sources.store import (
        CheckpointLog, FetchLogTable, FrontierTable,
    )

    cfg = offline_config()
    data = offline_inputs(seed, OFFLINE_STATE)
    frontier = FrontierTable(workdir)
    tick = timedelta(hours=1)
    frontier.merge(frontier_rows_from_urls(
        spark.createDataFrame(data["urls"], "url string, priority int"),
        cfg, superstep=0, t0=cfg.t0, priority_col=F.col("priority"),
    ), superstep=0)
    for d, upd in enumerate(data["updates"], start=1):
        frontier.merge(frontier_rows_from_urls(
            spark.createDataFrame(upd, "url string, priority int"),
            cfg, superstep=d, t0=cfg.t0 + d * tick, priority_col=F.col("priority"),
        ), superstep=d)
    # one delta for the whole fetch-log history (rows carry their
    # superstep); one checkpoint per superstep
    n = OFFLINE_STATE.supersteps
    FetchLogTable(workdir).append(
        spark.createDataFrame(
            data["fetch_log"], "superstep int, rank long, slot int, url string, status_code int")
        .select("superstep", "rank", "slot", "url",
                url_sha1(F.col("url")).alias("url_hash"), "status_code",
                outcome_class(F.col("status_code")).alias("outcome")), n)
    ckpt = CheckpointLog(workdir)
    for s in range(1, n + 1):
        fetched = int((data["fetch_log"]["superstep"] == s).sum())
        ckpt.commit(spark, s, cfg.t0 + s * tick, f"frontier-v{s}",
                    {"urls_seen": len(data["urls"]), "fetched": fetched,
                     "discovered": fetched * 3}, {})
    return {"cfg": cfg, "docs": data["docs"], "frontier_rows": len(data["urls"]),
            "supersteps": OFFLINE_STATE.supersteps}


OFFLINE_JOBS = ("freshness", "health", "traps", "saturation", "curate", "compact")


def run_offline(spark, workdir: str, seed: int, seconds: float, tracer=None) -> Outcome:
    from sparkcrawl.plans.analytics import crawl_saturation
    from sparkcrawl.plans.export import export_curated_corpus
    from sparkcrawl.plans.freshness import refresh_revisit_schedule
    from sparkcrawl.plans.health import quarantine_sick_hosts
    from sparkcrawl.plans.traps import refresh_trap_rules
    from sparkcrawl.sources.store import CheckpointLog, FrontierTable

    out = Outcome()
    jvm = spark.sparkContext._gateway.proc.pid
    state_dir = os.path.join(workdir, "state")
    t0 = time.perf_counter()
    state = build_offline_state(spark, state_dir, seed)
    out.setup_s = time.perf_counter() - t0
    cfg = state["cfg"]
    frontier_bytes = sum(tree_files(os.path.join(state_dir, "frontier")).values())

    def job(name, wd):
        if name == "freshness":
            return refresh_revisit_schedule(spark, wd, cfg, refresh_id=1)
        if name == "health":
            return quarantine_sick_hosts(spark, wd, cfg, refresh_id=1)
        if name == "traps":
            return refresh_trap_rules(spark, wd, cfg, refresh_id=1)
        if name == "saturation":
            return len(crawl_saturation(CheckpointLog(wd).read(spark)).collect())
        if name == "curate":
            docs = spark.createDataFrame(state["docs"], "doc_id long, text string")
            return sum(export_curated_corpus(spark, docs, os.path.join(wd, "export")).values())
        FrontierTable(wd).compact(spark)  # "compact"
        return state["frontier_rows"]

    touched: dict[str, list[int]] = {name: [] for name in OFFLINE_JOBS}
    job_s: dict[str, list[float]] = {name: [] for name in OFFLINE_JOBS}
    passes = []
    bad: set[tuple[int, str]] = set()  # failed (pass, job) operations
    start = time.perf_counter()
    paused = 0.0
    while not passes or time.perf_counter() - start - paused < seconds:
        # each pass runs on a fresh copy of the state (copy not timed):
        # the jobs rewrite the frontier, so a second pass on the same
        # directory would find nothing left to change
        t = time.perf_counter()
        wd = os.path.join(workdir, f"pass-{len(passes)}")
        shutil.copytree(state_dir, wd)
        paused += time.perf_counter() - t
        pass_s = 0.0
        cpu = procfs.cpu_s(jvm)
        for name in OFFLINE_JOBS:
            out.attempted += 1
            t = time.perf_counter()
            try:
                n = int(job(name, wd))
            except Exception as e:  # a raising job is a failed operation
                bad.add((len(passes), name))
                out.errors.append(f"{name}: {e!r}")
                n = 0
            dt = time.perf_counter() - t
            pass_s += dt
            out.ops_s.append(dt)
            job_s[name].append(dt)
            touched[name].append(n)
            out.rows += n
        out.rounds_cpu_s.append(procfs.cpu_s(jvm) - cpu)
        passes.append(wd)
        out.rounds_s.append(pass_s)
    out.window = (start, time.perf_counter())
    out.peak_rss_mb = procfs.peak_rss_mb(jvm)

    # correctness: every job touched rows; saturation has one row per
    # checkpoint; compaction left one delta holding every frontier URL
    for name, counts in touched.items():
        for i, n in enumerate(counts):
            if n <= 0:
                bad.add((i, name))
                out.errors.append(f"{name}: touched no rows")
    for i, n in enumerate(touched["saturation"]):
        if n != state["supersteps"]:
            bad.add((i, "saturation"))
            out.errors.append(f"saturation: {n} rows for {state['supersteps']} checkpoints")
    for i, wd in enumerate(passes):
        ft = FrontierTable(wd)
        keys = table_column(ft.store, "url_hash")
        rows = len(set(keys))
        if ft.store.num_deltas != 1 or len(keys) != rows or rows != state["frontier_rows"]:
            bad.add((i, "compact"))
            out.errors.append(
                f"compact: {ft.store.num_deltas} deltas, {rows} rows, "
                f"want 1 delta, {state['frontier_rows']} rows")
    out.failed = len(bad)

    out.report = {
        "passes": len(passes),
        "frontier_rows": state["frontier_rows"],
        "frontier_parquet_bytes": frontier_bytes,
        "frontier_deltas": OFFLINE_STATE.deltas,
        "rows_touched": touched,
        "job_s": {k: [round(x, 3) for x in v] for k, v in job_s.items()},
    }
    if tracer:
        w = out.window
        n = len(passes)
        out.layers = {
            **{f"offline.{name}_s": sum(job_s[name]) / n
               for name in OFFLINE_JOBS if name != "compact"},
            "offline.rows_touched": out.rows / n,
            **store_layers(tracer, w, n),
        }
    return out
