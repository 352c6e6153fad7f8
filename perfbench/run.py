#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {crawl_broad,webtext_shards} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One process is one closed-loop client
against a ``local[nproc]`` session. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (see BENCHMARK.json for definitions).
Everything the run writes goes under ``.bench_build/perfbench`` in the
checkout; inputs built there are reused by later runs. Never run this
concurrently with the test suite: both size Spark to every core.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("crawl_broad", "webtext_shards")
MIN_OPS = 1
EXTRACT_SAMPLE = 2000

END_TO_END = {"setup_s": "s", "step_s": "s"}
_CRAWL_SPANS = ("plans.wave", "commit.results", "commit.seen", "commit.bloom", "commit.frontier")
_TABLES = ("results", "seen", "bloom", "frontier")


def per_layer() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in BENCHMARK.json order."""
    from perfbench.webtext import QUERY_MIX

    return (
        [("plans.wave.self_s", "s"), ("spark.jobs_per_wave", "count"),
         ("spark.stages_per_wave", "count"), ("spark.tasks_per_wave", "count"),
         ("spark.labelled_task_frac", "ratio")]
        + [(f"sources.snapshots.commit_s.{t}", "s") for t in _TABLES + ("metrics",)]
        + [(f"sources.snapshots.mb_written.{t}", "MB") for t in _TABLES]
        + [(f"spark.task_s.{s}", "s") for s in _CRAWL_SPANS]
        + [(f"spark.shuffle_mb.{s}", "MB") for s in _CRAWL_SPANS]
        + [("spark.task_skew.plans.wave", "ratio"), ("spark.task_skew.commit.frontier", "ratio"),
           ("crawl.unseen_ratio", "ratio"), ("crawl.scheduled_ratio", "ratio"),
           ("crawl.ok_ratio", "ratio"), ("crawl.discovered_per_ok", "ratio"),
           ("crawl.frontier_urls_per_s", "1/s"), ("crawl.pages_per_s", "1/s"),
           ("crawl.wave_s_p50", "s"), ("htmlx.extract_page_ms", "ms"),
           ("htmlx.extract_cpu_share", "ratio")]
        + [(f"{layer}_s", "s") for layer in (
            "functions.repetition_arrow.gate", "operators.dedup.spans",
            "operators.dedup.minhash", "operators.dedup.components",
            "functions.lm.score", "functions.classifier.score",
            "functions.bpe.count", "operators.packing.pack", "webtext.unattributed")]
        + [("operators.dedup.candidate_pairs", "count"), ("operators.dedup.verified_pairs", "count"),
           ("operators.dedup.pair_yield", "ratio")]
        + [(f"spark.shuffle_mb.webtext.{p}", "MB") for p in ("gate", "spans", "minhash", "components")]
        + [("spark.task_skew.webtext.gate", "ratio"), ("spark.task_skew.webtext.minhash", "ratio"),
           ("webtext_s", "s"), ("query_s_sum", "s"), ("query_s_p50", "s")]
        + [(f"queries.{q}_s", "s") for q in QUERY_MIX]
        + [("spark.gc_s", "s"), ("spark.spill_mb", "MB"), ("process.peak_rss_mb", "MB"),
           ("trace.overhead_frac", "ratio")]
    )


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_driver_mem() -> str:
    """Driver heap from host RAM (about half of it), for the repo's
    SPARK_GRAFT_DRIVER_MEM; local mode runs every executor in it."""
    with open("/proc/meminfo") as f:
        kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return f"{max(2, int(kb / (1 << 20) * 0.55))}g"


def dirs() -> dict[str, str]:
    from perfbench import crawl, webtext

    g = crawl.GRAPH
    return {
        "data": os.path.join(CACHE, f"tables-{webtext.DATA_SCALE}-{webtext.DATA_SEED}"),
        "model": os.path.join(CACHE, f"tables-{webtext.MODEL_SCALE}-{webtext.DATA_SEED}"),
        "graph": os.path.join(
            CACHE, f"graph-{g['n_hosts']}x{g['pages_per_host']}-{g['seed']}"
        ),
        "run": os.path.join(CACHE, f"run-{os.getpid()}"),
    }


def prepare_env(d: dict[str, str]) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and size the session to the host."""
    from perfbench import webtext

    for sub in ("tmp", "local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(d["run"], sub), exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(d["run"], "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(d["run"], "local"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(host_cores()),
        "SPARK_GRAFT_DRIVER_MEM": host_driver_mem(),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(d["run"], "warehouse"),
        # every JVM, spark-submit's launcher included: no perf-data file
        # and no temporary files outside the checkout
        "JAVA_TOOL_OPTIONS": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(d['run'], 'tmp')}"
        ),
        **webtext.model_env(d["model"]),
    })


def start_session(d: dict[str, str], trace: bool):
    from downloader_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(d["run"], "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", cores=host_cores(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and so its Python workers) to
    exit; the JVM leaves when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    # the next session in this process must launch a new JVM
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class RunContext:
    """What a workload needs: the session, run parameters, paths, the
    tracer, and the operation counters behind attempted/failed."""

    def __init__(self, args, d, spark, t_session, tracer) -> None:
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cache = CACHE
        self.scratch = d["run"]
        self.data_dir = d["data"]
        self.graph_dir = d["graph"]
        self.t_session = t_session
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.extract_page_ms = 0.0

    def attempt(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: output check failed: {what}", file=sys.stderr)

    def loop(self, op) -> list:
        """Closed loop: run ``op`` back to back until ``seconds`` have
        passed and at least MIN_OPS operations completed."""
        out, t0 = [], time.monotonic()
        while len(out) < MIN_OPS or time.monotonic() - t0 < self.seconds:
            out.append(op())
        return out


def extract_page_ms(graph_dir: str) -> float:
    """Median wall of single-process htmlx extract_page over a fixed
    page sample of the crawl page store."""
    import pyarrow.parquet as pq

    from downloader_spark.htmlx.convert import extract_page

    t = pq.read_table(graph_dir, columns=["url", "html", "content_type"])
    rows = sorted(
        (u, h, c)
        for u, h, c in zip(*(t.column(k).to_pylist() for k in ("url", "html", "content_type")))
        if not u.endswith("/robots.txt")
    )[:EXTRACT_SAMPLE]
    times = []
    for url, html, ctype in rows:
        t0 = time.perf_counter()
        extract_page(html, ctype, url, with_links=True)
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1000.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "downloader_spark", "__init__.py")):
        print("perfbench: no downloader_spark package in this checkout", file=sys.stderr)
        return 2
    # import the benchmark as the ``perfbench`` package, not as loose
    # modules off the script directory (``tracing`` etc. stay private)
    if os.path.abspath(sys.path[0]) == os.path.dirname(os.path.abspath(__file__)):
        sys.path[0] = ROOT
    from perfbench import crawl, datagen, tracing, webtext

    d = dirs()
    for name in os.listdir(CACHE) if os.path.isdir(CACHE) else ():
        # scratch left by a run that was killed
        if name.startswith("run-") and not os.path.exists(f"/proc/{name[4:]}"):
            shutil.rmtree(os.path.join(CACHE, name), ignore_errors=True)
    prepare_env(d)
    try:
        datagen.ensure_tables(d["data"], webtext.DATA_SCALE, webtext.DATA_SEED)
        datagen.ensure_tables(d["model"], webtext.MODEL_SCALE, webtext.DATA_SEED)
        if not os.path.isdir(d["graph"]):
            # built in a session of its own, so its JVM warm-up does not
            # leak into the measured session
            spark = start_session(d, trace=False)
            try:
                datagen.write_web_graph(spark, d["graph"], **crawl.GRAPH)
            finally:
                stop_session(spark)
        with tracing.RssSampler() as rss:
            t = time.monotonic()
            spark = start_session(d, args.trace)
            t_session = time.monotonic() - t
            try:
                tracer = tracing.Tracer(spark.sparkContext) if args.trace else None
                ctx = RunContext(args, d, spark, t_session, tracer)
                mod = crawl if args.workload == "crawl_broad" else webtext
                out = mod.run(ctx)
                if args.trace:
                    ctx.extract_page_ms = extract_page_ms(d["graph"])
            finally:
                stop_session(spark)
        if args.trace:
            fold = tracing.read_and_delete_event_logs(os.path.join(d["run"], "eventlog"))
            metrics = {name: 0.0 for name, _unit in per_layer()}
            metrics.update(mod.layer_metrics(ctx, out, fold))
            metrics.update(tracing.totals(fold, out["window"]))
            metrics["process.peak_rss_mb"] = rss.peak_mb
            metrics["htmlx.extract_page_ms"] = ctx.extract_page_ms
            metrics["trace.overhead_frac"] = out["overhead_frac"]
            units = dict(per_layer())
        else:
            metrics = {
                "setup_s": out["setup_s"],
                # a fresh process's time to its first result: phases share
                # the JVM's warm-up work, so their sum is steadier than each
                "step_s": out["setup_s"] + out["walls"][0],
            }
            units = END_TO_END
    finally:
        shutil.rmtree(d["run"], ignore_errors=True)

    correct = ctx.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {
            k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()
        },
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
