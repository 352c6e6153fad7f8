"""crawl_broad: the first crawl waves on a fixed synthetic web.

Set-up builds the engine on the cached page store and seeds it. The
timed operation is the crawl's first two ``CrawlEngine.run_wave``
calls: wave 1 fetches the seeds and, crossing ``bloom_min_seen``,
builds the Bloom filter; wave 2 probes it and merges its own terminals
in (fetch join, extract, discovery and the three commit chains in
both). The first operation in a process is cold, as a crawl step
submitted as its own Spark application is; any further operation
restores the seeded warehouse first.

Every operation is checked against ``crawl.simulator.simulate_crawl``
on the same pages, seeds and config: a digest of the (wave, host,
rank, url) schedule, final statuses, the seen set, text hashes and
the per-wave counts must match.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time

# the page store: ~6k pages over 300 Zipf-sized hosts
GRAPH = {"n_hosts": 300, "pages_per_host": 20, "seed": 42}
SEEDS_PER_HOST = 4
TIMED_WAVES = 2
_COUNT_KEYS = (
    "n_frontier_in", "n_unseen", "n_denied", "n_ok", "n_missing_retry",
    "n_failed", "n_too_large", "n_discovered", "n_frontier_out", "n_seen_out",
)
COMMIT_TABLES = ("results", "seen", "bloom", "frontier", "metrics")


def crawl_config():
    from downloader_spark.plans.crawlconfig import CrawlConfig

    # the Bloom threshold sits below wave 1's seen count (its terminal
    # seeds, ~900), so wave 1 builds the filter and wave 2 probes it and
    # merges its own terminals in; run() checks this per seed
    return CrawlConfig(max_per_host_per_wave=50, max_depth=3, bloom_min_seen=500)


def pick_seeds(pages: dict, seed: int) -> list[str]:
    """Up to SEEDS_PER_HOST page urls per host, drawn by ``seed``."""
    by_host: dict[str, list[str]] = {}
    for url in pages:
        if not url.endswith("/robots.txt"):
            by_host.setdefault(url.split("/")[2], []).append(url)
    rng = random.Random(seed)
    seeds = []
    for host in sorted(by_host):
        urls = sorted(by_host[host])
        seeds.extend(rng.sample(urls, min(SEEDS_PER_HOST, len(urls))))
    return seeds


def _digest(schedule, statuses, seen, texts, counts) -> str:
    doc = {
        "schedule": sorted(list(map(list, schedule))),
        "statuses": sorted(statuses.items()),
        "seen": sorted(seen),
        "texts": sorted(
            (u, hashlib.sha1(t.encode("utf-8")).hexdigest()) for u, t in texts.items()
        ),
        "counts": counts,
    }
    return hashlib.sha256(json.dumps(doc, sort_keys=True).encode()).hexdigest()


def simulator_digest(pages: dict, seeds: list[str], cfg, cache_dir: str, key: str) -> dict:
    """Expected digest and per-wave counts, computed once per
    (seed, graph, config) and cached."""
    path = os.path.join(cache_dir, f"sim-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    from downloader_spark.crawl.simulator import simulate_crawl

    res = simulate_crawl(pages, seeds, cfg, max_waves=TIMED_WAVES)
    counts = [{k: c[k] for k in _COUNT_KEYS} for c in res.wave_counts]
    out = {
        "digest": _digest(res.schedule, res.statuses, res.seen, res.texts, counts[-1]),
        "wave_counts": counts,
    }
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def engine_digest(eng, metrics) -> str:
    """The same digest over the engine's committed tables."""
    from pyspark.sql import functions as F

    rows = eng.all_results().select("wave", "url", "host", "rank", "status", "text").collect()
    schedule = [
        (r["wave"], r["host"], r["rank"], r["url"]) for r in rows if r["rank"] is not None
    ]
    statuses, texts = {}, {}
    for r in sorted(rows, key=lambda r: r["wave"]):
        if r["status"] == "invalid":
            continue
        statuses[r["url"]] = r["status"]
        if r["status"] == "ok":
            texts[r["url"]] = r["text"]
    seen = {r["url"] for r in eng.read_seen().select(F.col("url")).collect()}
    counts = {k: getattr(metrics, k) for k in _COUNT_KEYS}
    return _digest(schedule, statuses, seen, texts, counts)


def install_tracing(tracer) -> None:
    """Spans around ``CrawlEngine.run_wave`` (label ``plans.wave``) and
    ``SnapshotWarehouse.commit`` (label ``commit.<table>``, set on the
    committing thread — run_wave commits from two worker threads)."""
    from downloader_spark.plans.wave import CrawlEngine
    from downloader_spark.sources.snapshots import SnapshotWarehouse

    def wave_factory(orig):
        def run_wave(self, wave):
            with tracer.span("plans.wave"):
                return orig(self, wave)

        return run_wave

    def commit_factory(orig):
        def commit(self, df, table, *args, **kwargs):
            with tracer.span(f"commit.{table}") as s:
                snap_id = orig(self, df, table, *args, **kwargs)
            s.counts["bytes"] = _dir_bytes(self._snap_dir(table, snap_id))
            return snap_id

        return commit

    tracer.patch(CrawlEngine, "run_wave", wave_factory)
    tracer.patch(SnapshotWarehouse, "commit", commit_factory)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


def run(ctx) -> dict:
    """Set-up, timed operations and checks. ``ctx`` is run.py's RunContext."""
    from downloader_spark.plans.wave import CrawlEngine

    from . import datagen, tracing

    spark = ctx.spark
    cfg = crawl_config()
    pages = datagen.read_graph_pages(ctx.graph_dir)
    seeds = pick_seeds(pages, ctx.seed)
    key = hashlib.sha1(
        json.dumps([GRAPH, SEEDS_PER_HOST, ctx.seed, repr(cfg)]).encode()
    ).hexdigest()[:16]
    expected = simulator_digest(pages, seeds, cfg, os.path.join(ctx.cache, "digests"), key)
    del pages
    if expected["wave_counts"][0]["n_seen_out"] < cfg.bloom_min_seen:
        raise RuntimeError(
            "wave 1 leaves the seen set below bloom_min_seen: the timed waves "
            "would not reach the Bloom probe and incremental merge"
        )

    # -- set-up, as a user pays it once per process: session start, reading
    #    the page store, engine construction + init
    t = time.monotonic()
    pages_df = spark.read.parquet(ctx.graph_dir)
    t_read = time.monotonic() - t
    t = time.monotonic()
    eng = CrawlEngine(spark, os.path.join(ctx.scratch, "warehouse"), pages_df, cfg)
    eng.init(seeds)
    t_init = time.monotonic() - t
    print(
        f"perfbench: session {ctx.t_session:.2f}s read {t_read:.2f}s init {t_init:.2f}s",
        file=sys.stderr,
    )
    wh_live = eng.wh.root
    wh_base = wh_live + "-seeded"
    shutil.copytree(wh_live, wh_base)
    n_ops = 0

    def one_op(tracer):
        """Waves 1..TIMED_WAVES from the seeded state; ``tracer`` None
        runs the original code. The first call is the process's first
        crawl step (cold); later calls restore the seeded warehouse.
        Returns (wall, wave metrics, epoch window of the waves)."""
        nonlocal n_ops
        if n_ops:
            shutil.rmtree(wh_live)
            shutil.copytree(wh_base, wh_live)
            # a live crawl collects each new Bloom snapshot once; drop the
            # broadcast cached by the previous repetition
            if eng._bloom_bc is not None:
                eng._bloom_bc[1].unpersist(blocking=False)
                eng._bloom_bc = None
        n_ops += 1
        if tracer is not None:
            install_tracing(tracer)
        try:
            t0, e0 = time.monotonic(), time.time()
            waves = [eng.run_wave(w) for w in range(1, TIMED_WAVES + 1)]
            dt, window = time.monotonic() - t0, (e0, time.time())
        finally:
            if tracer is not None:
                tracer.unpatch_all()
        print(f"perfbench: waves 1-{TIMED_WAVES} {dt:.3f}s traced={tracer is not None}", file=sys.stderr)
        ctx.attempt(
            [{k: getattr(m, k) for k in _COUNT_KEYS} for m in waves[:-1]]
            == expected["wave_counts"][:-1]
            and engine_digest(eng, waves[-1]) == expected["digest"],
            f"waves 1-{TIMED_WAVES} differ from the simulator",
        )
        return dt, waves, window

    out = {"setup_s": ctx.t_session + t_read + t_init}
    if ctx.trace:
        # the window holds the timed waves only, not the output check
        wall, waves, out["window"] = one_op(ctx.tracer)
        out["traced"] = (wall, waves)
        # overhead: warm untraced, traced, untraced operations after the
        # cold traced one (a linear warm-up trend cancels)
        untraced = [one_op(None)[0]]
        traced = one_op(tracing.Tracer(spark.sparkContext))[0]
        untraced.append(one_op(None)[0])
        out["overhead_frac"] = traced / statistics.mean(untraced) - 1.0
    else:
        out["walls"] = [op[0] for op in ctx.loop(lambda: one_op(None))]
    eng.close()
    return out


def layer_metrics(ctx, out: dict, fold) -> dict:
    """Per-layer metrics of the traced (first, cold) operation; the
    per-wave figures are means over its waves (see BENCHMARK.json)."""
    from . import tracing

    tracer = ctx.tracer
    waves = tracer.named("plans.wave")
    commits = [s for s in tracer.spans if s.name.startswith("commit.")]
    labels = {"plans.wave"} | {f"commit.{t}" for t in COMMIT_TABLES}
    res: dict[str, float] = {}
    mean = statistics.mean
    self_s, per_table_s, per_table_b, stats = [], {}, {}, []
    for w in waves:
        mine = [s for s in commits if w.start <= s.start <= w.end]
        self_s.append(w.wall - tracing.covered_seconds([(s.start, s.end) for s in mine], w.start, w.end))
        for t in COMMIT_TABLES:
            spans = [s for s in mine if s.name == f"commit.{t}"]
            per_table_s.setdefault(t, []).append(sum(s.wall for s in spans))
            per_table_b.setdefault(t, []).append(sum(s.counts.get("bytes", 0) for s in spans))
        stats.append(tracing.window_stats(fold, w.start * 1000, w.end * 1000, labels))
    res["plans.wave.self_s"] = mean(self_s)
    for key in ("jobs", "stages", "tasks"):
        res[f"spark.{key}_per_wave"] = mean(s[key] for s in stats)
    res["spark.labelled_task_frac"] = min(s["labelled_frac"] for s in stats)
    for t in COMMIT_TABLES:
        res[f"sources.snapshots.commit_s.{t}"] = mean(per_table_s[t])
        if t != "metrics":
            res[f"sources.snapshots.mb_written.{t}"] = mean(per_table_b[t]) / (1 << 20)
    for span in ("plans.wave", "commit.results", "commit.seen", "commit.bloom", "commit.frontier"):
        sm = tracing.span_stage_metrics(fold, span, out["window"])
        res[f"spark.task_s.{span}"] = sm["task_s"] / len(waves)
        res[f"spark.shuffle_mb.{span}"] = sm["shuffle_mb"] / len(waves)
        if span in ("plans.wave", "commit.frontier"):
            res[f"spark.task_skew.{span}"] = sm["task_skew"]
    wall, ms = out["traced"]
    tot = {k: sum(getattr(m, k) for m in ms) for k in (
        "n_frontier_in", "n_unseen", "n_scheduled", "n_ok", "n_discovered")}
    res["crawl.unseen_ratio"] = tot["n_unseen"] / max(1, tot["n_frontier_in"])
    res["crawl.scheduled_ratio"] = tot["n_scheduled"] / max(1, tot["n_unseen"])
    res["crawl.ok_ratio"] = tot["n_ok"] / max(1, tot["n_scheduled"])
    res["crawl.discovered_per_ok"] = tot["n_discovered"] / max(1, tot["n_ok"])
    res["crawl.frontier_urls_per_s"] = tot["n_frontier_in"] / wall
    res["crawl.pages_per_s"] = tot["n_ok"] / wall
    res["crawl.wave_s_p50"] = statistics.median(w.wall for w in waves)
    task_s = res["spark.task_s.plans.wave"] * len(waves)
    res["htmlx.extract_cpu_share"] = (
        tot["n_ok"] * ctx.extract_page_ms / 1000.0 / task_s if task_s else 0.0
    )
    return res
