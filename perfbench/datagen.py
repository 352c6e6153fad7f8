"""Deterministic benchmark inputs, built once per checkout and reused.

Two kinds of input:

* ``write_tables``: the star-schema + documents/events/embeddings tables
  the query layer reads (same names, column types and value shapes as
  the fixture tables described in TESTDATA.md / FIXTURES.md §6), drawn
  from numpy with a fixed seed. ``scale`` follows the fixture naming:
  0.1 gives 5,000 documents, 100,000 events, 2,000 embeddings,
  600,000 lineitem rows.
* ``write_web_graph``: the crawl workload's page store, generated by
  the repo's own ``sources.pagegen.generate_web_graph`` and written to
  parquet so later runs only read it.

Everything lands under the cache directory given by the caller; nothing
here reads outside it.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the 31-word vocabulary of the fixture documents (uniform draws)
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
STATUSES = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["large", "hot", "blue", "small", "cold", "red", "green", "shiny"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"]

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _ts(days_from: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    n_words = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    texts, pos = [], 0
    for k in n_words:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    # 5% near-duplicates: another document's text plus a marker word
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    langs = rng.choice(len(LANGS), n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in langs], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts("2024-01-01", offs),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(
            [EVENT_TYPES[i] for i in rng.integers(0, 5, n)], pa.string()
        ),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
        ),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, n)
    v = centers[labels] + rng.normal(0.0, 1.5, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(out_dir: str, scale: float, seed: int) -> None:
    """Write every fixture-shaped table for ``scale`` under ``out_dir``
    (atomically: a half-written directory is never left behind)."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_orders = max(1_500, int(1_500_000 * scale))
    n_line = max(6_000, int(6_000_000 * scale))
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, 0, 10_000, n_cust)),
            "c_mktsegment": pa.array(
                [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)], pa.string()
            ),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, 0, 10_000, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
            ),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": pa.array(
                [STATUSES[i] for i in rng.integers(0, 3, n_orders)], pa.string()
            ),
            "o_totalprice": pa.array(_money(rng, 1_000, 500_000, n_orders)),
            "o_orderdate": _ts(
                "1995-01-01", rng.integers(0, 2404, n_orders) * 86400 * 10**6
            ),
            "o_orderpriority": pa.array(
                [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)], pa.string()
            ),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(
                np.array(["N", "R", "A"])[rng.integers(0, 3, n_line)], pa.string()
            ),
            "l_linestatus": pa.array(
                np.array(["F", "O"])[rng.integers(0, 2, n_line)], pa.string()
            ),
            "l_shipdate": _ts(
                "1995-01-02", rng.integers(0, 2498, n_line) * 86400 * 10**6
            ),
        }),
        "events": _events(rng, max(1_000, int(1_000_000 * scale)), max(15, int(15_000 * scale))),
        "documents": _documents(rng, max(50, int(50_000 * scale))),
        "embeddings": _embeddings(rng, max(20, int(20_000 * scale))),
    }
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, t in tables.items():
        # one row group per file, like the fixtures (one scan partition)
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"), row_group_size=len(t) or 1)
    os.replace(tmp, out_dir)


def ensure_tables(out_dir: str, scale: float, seed: int) -> None:
    """Build the tables unless present."""
    if not os.path.isdir(out_dir):
        write_tables(out_dir, scale, seed)


def write_web_graph(spark, out_dir: str, n_hosts: int, pages_per_host: int, seed: int) -> None:
    """Generate the crawl page store (pagegen.generate_web_graph) and
    store it as parquet."""
    from downloader_spark.sources.pagegen import generate_web_graph

    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    generate_web_graph(
        spark, n_hosts=n_hosts, pages_per_host=pages_per_host, seed=seed
    ).write.parquet(tmp)
    os.replace(tmp, out_dir)


def read_graph_pages(graph_dir: str) -> dict[str, tuple[bytes, str]]:
    """url -> (html bytes, content type), the simulator's page map."""
    t = pq.read_table(graph_dir, columns=["url", "html", "content_type"])
    return {
        u: (h, c)
        for u, h, c in zip(
            t.column("url").to_pylist(),
            t.column("html").to_pylist(),
            t.column("content_type").to_pylist(),
        )
    }
