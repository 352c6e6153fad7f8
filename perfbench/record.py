#!/usr/bin/env python3
"""Record webtext_shards' expected results, or re-check them.

    python3 perfbench/record.py            # print the check table
    python3 perfbench/record.py --write    # rewrite perfbench/expected.json
    python3 perfbench/record.py --oracles  # also compare with DuckDB

Runs webtext_to_shards and every QUERY_MIX query once on the benchmark's input tables and
reports its (row count, ``bit_xor(xxhash64(*))``). With ``--oracles``
each query's rows are also compared with its ``oracle_sql()`` run in
DuckDB over the same parquet files (row count plus order-insensitive
values, as tests/test_driver_contract.py compares them).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _norm(cols, rows):
    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.6g}"
        if hasattr(v, "isoformat"):
            return v.isoformat()[:26]
        return str(v)

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def oracle_matches(spark, name: str, data_dir: str) -> tuple[bool, float]:
    import duckdb

    from downloader_spark.queries import ORACLE, Q
    from perfbench.datagen import TABLES

    sdf = Q[name](spark, data_dir)
    s_rows, s_cols = [tuple(r) for r in sdf.collect()], sdf.columns
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    t0 = time.monotonic()
    res = con.execute(ORACLE[name])
    d_cols = [c[0] for c in res.description]
    d_rows = res.fetchall()
    dt = time.monotonic() - t0
    ok = sorted(s_cols) == sorted(d_cols) and _norm(s_cols, s_rows) == _norm(d_cols, d_rows)
    return ok, dt


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--write", action="store_true")
    ap.add_argument("--oracles", action="store_true")
    args = ap.parse_args()
    if os.path.abspath(sys.path[0]) == os.path.dirname(os.path.abspath(__file__)):
        sys.path[0] = ROOT
    from perfbench import datagen, run, webtext

    d = run.dirs()
    run.prepare_env(d)
    datagen.ensure_tables(d["data"], webtext.DATA_SCALE, webtext.DATA_SEED)
    datagen.ensure_tables(d["model"], webtext.MODEL_SCALE, webtext.DATA_SEED)
    spark = run.start_session(d, trace=False)
    results, ok_all = {}, True
    try:
        for name in (webtext.OP,) + webtext.QUERY_MIX:
            dt, got = webtext.run_op(spark, name, d["data"])
            results[name] = got
            line = f"{name:24s} rows={got[0]:>7d} hash={got[1]:>21d} {dt:6.2f}s"
            if args.oracles:
                ok, odt = oracle_matches(spark, name, d["data"])
                ok_all &= ok
                line += f"  oracle={'match' if ok else 'MISMATCH'} ({odt:.1f}s)"
            print(line, flush=True)
    finally:
        run.stop_session(spark)
        import shutil

        shutil.rmtree(d["run"], ignore_errors=True)
    if args.write:
        with open(webtext.EXPECTED_PATH, "w") as f:
            json.dump(
                {"data": {"scale": webtext.DATA_SCALE, "seed": webtext.DATA_SEED},
                 "results": results},
                f, indent=1, sort_keys=True,
            )
            f.write("\n")
    return 0 if ok_all else 1


if __name__ == "__main__":
    sys.exit(main())
