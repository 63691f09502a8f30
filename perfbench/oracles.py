"""Regenerate ``perfbench/expected.json``, the benchmark's committed answers.

    python3 perfbench/oracles.py

- ``query_suite``: row count, sorted column names and value hash
  (``tools/check_oracles.value_hash``) of each suite query's DuckDB twin
  (``oracle_sql()``) over the benchmark's fixed suite tables.  Some twins take
  minutes, which is why their answers are committed instead of computed per
  run.
- ``chain_write_tiles_sha256``: sha256 over the sorted tile bytes the
  chain_write workload writes for seed 0, a pin that any change to the
  output bytes trips.  Every other seed is checked against the ray-cast
  reference instead.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def suite_answers(data_dir: str) -> dict:
    import duckdb

    import __spark_entry__ as entry
    from perfbench.workloads import SUITE_QUERIES
    from tools.check_oracles import value_hash

    con = duckdb.connect()
    try:
        for t in ("documents", "supplier", "lineitem"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for q in SUITE_QUERIES:
            want = con.sql(entry.oracle_sql()[q]).df()
            out[q] = {"rows": len(want), "columns": sorted(want.columns), "hash": value_hash(want)}
            print(f"{q}: {out[q]}", flush=True)
        return out
    finally:
        con.close()


def chain_sha(work: str) -> str:
    import argparse

    from perfbench import run
    from perfbench.workloads import CHAIN_SHA_SEED, SIZES, ChainWrite, tileset_sha256

    cores = len(os.sched_getaffinity(0))
    run.pin_environment(work, cores, trace=False)
    args = argparse.Namespace(seed=CHAIN_SHA_SEED, trace=0, smoke=False)
    ctx = run.Context(args, work, cores, SIZES)
    try:
        ctx.start_session(cores)
        wl = ChainWrite(ctx)
        wl.setup()
        out = wl.out_dir()
        wl.chain_write(ctx.spark, [wl.pages_dir], cores, out)
        return tileset_sha256(out)
    finally:
        ctx.stop()


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import inputs
    from perfbench.workloads import SIZES

    work = os.path.join(ROOT, ".perfbench_work", f"oracles-{os.getpid()}")
    os.makedirs(work)
    try:
        data = os.path.join(work, "suite")
        inputs.build_suite_tables(data, SIZES)
        answers = {"query_suite": suite_answers(data), "chain_write_tiles_sha256": chain_sha(work)}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(answers, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(answers["chain_write_tiles_sha256"]))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
