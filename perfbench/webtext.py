"""webtext_shards: ``q_webtext_to_shards`` on fixed input tables.

Set-up builds the process-cached models. The timed operation runs the
query and forces every output column with the (row count,
``bit_xor(xxhash64(*))``) aggregate bench.py uses; the result must
equal the value recorded in ``expected.json`` for the tables
``datagen.write_tables`` builds at DATA_SCALE/DATA_SEED. The first
operation in a process is cold (every plan is compiled and the JVM's
JIT is cold), as a pipeline run submitted as its own Spark application
is; later operations, if ``--seconds`` leaves room, are warm.

The traced run splits the operation into its stages (Gopher gate,
span removal, MinHash, components, LM and classifier scoring, BPE
counts, packing) and also times the QUERY_MIX queries once each, in
an order the seed permutes, for their per-layer figures.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time

DATA_SCALE = 0.02
DATA_SEED = 42
# the models' training corpora (lm, classifier, BPE merges, semdedup
# centroids): the same generator at 200 documents
MODEL_SCALE = 0.004

OP = "webtext_to_shards"
# the query_mix set: the query layers webtext_to_shards does not reach
# (similarity, semdedup, graph, multimodal), htmlx extraction, the
# Gopher gate alone, and short SQL/operator queries whose cost is mostly
# per-query fixed cost
QUERY_MIX = (
    "batch_summary", "priority_topk", "response_p95", "seen_antijoin",
    "fetch_join", "wave_metrics", "windowed_counts", "health_score",
    "embedding_knn_ivf", "embedding_knn_lsh", "semantic_dedup",
    "extract_lang_profile", "multi_format_fanout", "gopher_quality",
    "link_pagerank", "media_features",
)
EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")

# webtext stage spans, in the order q_webtext_to_shards reaches them:
# (module, function, span label, per-layer metric)
WEBTEXT_STAGES = (
    ("functions.repetition_arrow", "with_repetition_arrow", "webtext.gate", "functions.repetition_arrow.gate_s"),
    ("operators.dedup", "drop_repeated_spans", "webtext.spans", "operators.dedup.spans_s"),
    ("operators.dedup", "minhash_verified_pairs", "webtext.minhash", "operators.dedup.minhash_s"),
    ("operators.dedup", "connected_keepers", "webtext.components", "operators.dedup.components_s"),
    ("functions.lm", "score_perplexity", "webtext.lm", "functions.lm.score_s"),
    ("functions.classifier", "score_quality", "webtext.classifier", "functions.classifier.score_s"),
)


def model_env(model_dir: str) -> dict[str, str]:
    """Point the process-cached model builds at the benchmark's own
    corpus (their defaults read the fixture directory)."""
    return {
        "SPARK_GRAFT_LM_CORPUS": os.path.join(model_dir, "documents.parquet"),
        "SPARK_GRAFT_EMB_CORPUS": os.path.join(model_dir, "embeddings.parquet"),
        "SPARK_GRAFT_BPE_SF_DIR": model_dir,
    }


def build_models() -> float:
    """Build every process-cached model; returns seconds."""
    from downloader_spark.functions import bpe, classifier, lm
    from downloader_spark.operators import semdedup

    t = time.monotonic()
    lm.default_lm()
    classifier.default_classifier()
    bpe.default_merges()
    semdedup.default_semdedup_centroids()
    return time.monotonic() - t


def run_op(spark, name: str, data_dir: str) -> tuple[float, list[int]]:
    """One operation: build the query, force every output column, free
    its internal checkpoints. Returns (seconds, [rows, hash])."""
    from pyspark.sql import functions as F

    from downloader_spark.operators.dedup import release_result
    from downloader_spark.queries import Q

    t = time.monotonic()
    df = Q[name](spark, data_dir)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h"),
    ).collect()[0]
    dt = time.monotonic() - t
    release_result(df)
    return dt, [int(row["n"]), int(row["h"])]


def load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        exp = json.load(f)
    if exp.get("data") != {"scale": DATA_SCALE, "seed": DATA_SEED}:
        raise ValueError("expected.json was recorded for other input tables")
    return exp["results"]


def install_webtext_tracing(tracer, held: list) -> None:
    """Stage spans for q_webtext_to_shards: each wrapped function gets a
    materialized input (labelled ``webtext.input``, outside the stage
    span) and its output is forced inside the span. The checkpoints are
    appended to ``held`` and released after the operation."""
    import importlib

    from downloader_spark.operators import dedup

    def materialize(df, label):
        with tracer.span(label):
            out, ids = dedup._ckpt_tracked(df)
        held.append((out, ids))
        return out

    def stage_factory(label):
        def factory(orig):
            def wrapped(df, *args, **kwargs):
                df = materialize(df, "webtext.input")
                with tracer.span(label) as s:
                    out, ids = dedup._ckpt_tracked(orig(df, *args, **kwargs))
                held.append((out, ids))
                s.counts["rows"] = out.count()
                return out

            return wrapped

        return factory

    for mod, fn, label, _metric in WEBTEXT_STAGES:
        tracer.patch(importlib.import_module(f"downloader_spark.{mod}"), fn, stage_factory(label))

    def candidates_factory(orig):
        def wrapped(*args, **kwargs):
            with tracer.span("webtext.candidates") as s:
                out, ids = dedup._ckpt_tracked(orig(*args, **kwargs))
                s.counts["rows"] = out.count()
            held.append((out, ids))
            return out

        return wrapped

    def pack_factory(orig):
        def wrapped(counts, *args, **kwargs):
            counts = materialize(counts, "webtext.bpe")
            with tracer.span("webtext.pack"):
                out, ids = dedup._ckpt_tracked(orig(counts, *args, **kwargs))
            held.append((out, ids))
            return out

        return wrapped

    from downloader_spark.operators import packing

    tracer.patch(dedup, "minhash_band_candidates", candidates_factory)
    tracer.patch(packing, "pack_token_shards", pack_factory)


def run(ctx) -> dict:
    from downloader_spark.operators.dedup import _drop_ckpt

    from . import tracing

    spark, data_dir = ctx.spark, ctx.data_dir
    expected = load_expected()

    def one_op(name: str, tracer) -> float:
        """One checked operation; ``tracer`` None runs the original code."""
        held: list = []
        if tracer is not None and name == OP:
            install_webtext_tracing(tracer, held)
        try:
            if tracer is not None:
                with tracer.span(f"queries.{name}"):
                    dt, got = run_op(spark, name, data_dir)
            else:
                dt, got = run_op(spark, name, data_dir)
        finally:
            if tracer is not None:
                tracer.unpatch_all()
            for df, ids in held:
                _drop_ckpt(df, ids)
        print(f"perfbench: {name} {dt:.3f}s traced={tracer is not None}", file=sys.stderr)
        ctx.attempt(got == expected.get(name), f"{name}: got {got}, expected {expected.get(name)}")
        return dt

    # one cold build: what a user pays once per process (a rebuild in
    # the same process is warm and much cheaper)
    model_s = build_models()
    print(f"perfbench: session {ctx.t_session:.2f}s models {model_s:.2f}s", file=sys.stderr)

    out = {"setup_s": ctx.t_session + model_s}
    if ctx.trace:
        t0 = time.time()
        out["traced"] = one_op(OP, ctx.tracer)
        out["window"] = (t0, time.time())
        # overhead: warm untraced, traced, untraced operations after the
        # cold traced one (a linear warm-up trend cancels)
        untraced = [one_op(OP, None)]
        traced = one_op(OP, tracing.Tracer(spark.sparkContext))
        untraced.append(one_op(OP, None))
        out["overhead_frac"] = traced / statistics.mean(untraced) - 1.0
        order = list(QUERY_MIX)
        random.Random(ctx.seed).shuffle(order)
        out["queries"] = {q: one_op(q, None) for q in order}
        return out
    out["walls"] = ctx.loop(lambda: one_op(OP, None))
    return out


def layer_metrics(ctx, out: dict, fold) -> dict:
    """Per-layer metrics of the traced operation (see BENCHMARK.json)."""
    from . import tracing

    tracer = ctx.tracer
    res: dict[str, float] = {}
    staged = 0.0
    for _mod, _fn, label, metric in WEBTEXT_STAGES:
        res[metric] = sum(s.wall for s in tracer.named(label))
        staged += res[metric]
    res["functions.bpe.count_s"] = sum(s.wall for s in tracer.named("webtext.bpe"))
    res["operators.packing.pack_s"] = sum(s.wall for s in tracer.named("webtext.pack"))
    staged += res["functions.bpe.count_s"] + res["operators.packing.pack_s"]
    res["webtext.unattributed_s"] = out["traced"] - staged
    cands = sum(s.counts.get("rows", 0) for s in tracer.named("webtext.candidates"))
    verified = sum(s.counts.get("rows", 0) for s in tracer.named("webtext.minhash"))
    res["operators.dedup.candidate_pairs"] = cands
    res["operators.dedup.verified_pairs"] = verified
    res["operators.dedup.pair_yield"] = verified / cands if cands else 0.0
    for part in ("gate", "spans", "minhash", "components"):
        sm = tracing.span_stage_metrics(fold, f"webtext.{part}", out["window"])
        res[f"spark.shuffle_mb.webtext.{part}"] = sm["shuffle_mb"]
        if part in ("gate", "minhash"):
            res[f"spark.task_skew.webtext.{part}"] = sm["task_skew"]
    res["webtext_s"] = out["traced"]
    qs = out["queries"]
    res["query_s_sum"] = sum(qs.values())
    res["query_s_p50"] = statistics.median(qs.values())
    for q, dt in qs.items():
        res[f"queries.{q}_s"] = dt
    return res
