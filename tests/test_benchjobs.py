"""Smoke tests for the shared scaling-job factory (benchjobs.py).

bench.py and tools/submit_scaling.py both measure this job — BENCH.md
compares their numbers, so its schema and semantics must stay pinned.
"""

from __future__ import annotations

import pytest

from open_vector_tile_spark.benchjobs import build_tile_bench_job


@pytest.fixture(scope="module")
def pages(spark):
    from open_vector_tile_spark.sources import pages_spark

    return pages_spark(spark, 2000, partitions=4).localCheckpoint()


def test_fast_path_counts_features(spark, pages):
    row = build_tile_bench_job(spark, pages, "fast", 4).collect()[0]
    assert set(row.asDict()) == {"tiles", "rows"}
    assert row["tiles"] > 0
    assert row["rows"] >= row["tiles"]  # >=1 feature per tile


def test_verify_path_decodes_every_tile(spark, pages):
    fast = build_tile_bench_job(spark, pages, "fast", 4).collect()[0]
    ver = build_tile_bench_job(spark, pages, "verify", 4).collect()[0]
    # the decode walk must visit exactly the tiles/features fast counted
    assert ver["tiles"] == fast["tiles"]
    assert ver["rows"] == fast["rows"]
    assert ver["csum"] > 0  # geometry actually read, not optimized away


def test_unknown_path_raises(spark, pages):
    with pytest.raises(ValueError, match="unknown scaling path"):
        build_tile_bench_job(spark, pages, "bogus", 4)


def test_pipeline_chain_stage_cutoffs(spark, pages):
    """The single-sourced flagship chain (bench.py pipeline path == stage
    probe): each cutoff exposes the columns its stage adds, the full chain
    produces tiles, and the nn_join stage adds NO rows (map-only column —
    the DAG-diamond fix contract)."""
    from open_vector_tile_spark.benchjobs import build_pipeline_chain

    geo = build_pipeline_chain(spark, pages, 4, upto="geoparse")
    assert {"lon", "lat"} <= set(geo.columns)
    sj = build_pipeline_chain(spark, pages, 4, upto="sjoin")
    assert "poly_id" in sj.columns
    nn = build_pipeline_chain(spark, pages, 4, upto="nn_join")
    assert "near_poi" in nn.columns
    assert nn.count() == sj.count()  # enrichment column, not a join fan-out
    tiles = build_pipeline_chain(spark, pages, 4)  # default: encode
    assert {"zoom", "tile_x", "tile_y", "tile"} <= set(tiles.columns)
    assert tiles.count() > 0


def test_pipeline_chain_encodes_and_writes_one_wave(spark, pages, tmp_path):
    """The flagship chain encodes one wave wide (total_cores tasks, not a
    multiple), and its sink writes one shard per encode task at most."""
    import os

    from open_vector_tile_spark.benchjobs import (
        build_pipeline_chain,
        read_back_tile_count,
        write_pipeline_tiles,
    )
    from open_vector_tile_spark.sources.tileset import OvtTilesetDataSource

    spark.dataSource.register(OvtTilesetDataSource)
    tiles = build_pipeline_chain(spark, pages, 4)
    assert tiles.rdd.getNumPartitions() == 4
    out = str(tmp_path / "tiles")
    write_pipeline_tiles(tiles, out)
    shards = [f for f in os.listdir(out) if f.endswith(".ovtshard")]
    assert 1 <= len(shards) <= 4
    assert read_back_tile_count(spark, out) == tiles.count()


def test_pipeline_chain_unknown_stage_raises(spark, pages):
    from open_vector_tile_spark.benchjobs import build_pipeline_chain

    with pytest.raises(ValueError, match="unknown stage"):
        build_pipeline_chain(spark, pages, 4, upto="bogus")


def test_scaling_of_record_reports_best_median_latest(tmp_path):
    """The scaling record is best-of-N over ALL committed summaries.

    The ledger intentionally keeps noisy co-tenant windows; the record must
    surface the best run while disclosing median + latest, never silently
    dropping or overwriting measurements.
    """
    import json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from bench import _scaling_of_record

    ledger = tmp_path / "ledger.jsonl"
    rows = [
        {"kind": "submit_measure", "secs": 1.0},  # ignored: not a summary
        # pre-marker protocol-debugging run: excluded from the record
        {"kind": "submit_scaling_summary", "scaling_efficiency": 0.346,
         "execs_2_best_rows_per_sec": 1.0,
         "execs_8_best_rows_per_sec": 1.4, "rows": 4000000,
         "launcher": "spark-submit"},
        {"kind": "protocol_marker", "protocol": 2, "note": "v2 from here"},
        {"kind": "submit_scaling_summary", "scaling_efficiency": 0.827,
         "execs_2_best_rows_per_sec": 174360.3,
         "execs_8_best_rows_per_sec": 576493.5, "rows": 8000000,
         "launcher": "spark-submit"},
        {"kind": "submit_scaling_summary", "scaling_efficiency": 0.736,
         "execs_2_best_rows_per_sec": 136066.0,
         "execs_8_best_rows_per_sec": 400440.5, "rows": 8000000,
         "launcher": "spark-submit"},
        # a NON-fast-path summary (the pipeline series ledgers separately,
        # but a stray row must not pollute the fast record either)
        {"kind": "submit_scaling_summary", "scaling_efficiency": 0.99,
         "path": "pipeline",
         "execs_2_best_rows_per_sec": 1.0,
         "execs_8_best_rows_per_sec": 3.96, "rows": 8000000,
         "launcher": "spark-submit"},
    ]
    ledger.write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    rec = _scaling_of_record(str(ledger))
    assert rec["scaling_efficiency"] == 0.827  # best, not latest
    assert rec["latest_efficiency"] == 0.736
    assert rec["n_runs"] == 2
    assert rec["median_efficiency"] == round((0.827 + 0.736) / 2, 3)
    assert rec["n_debug_runs_excluded"] == 1  # the pre-marker 0.346 row
    assert rec["recorded"] is True


def test_scaling_of_record_missing_ledger(tmp_path):
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from bench import _scaling_of_record

    assert _scaling_of_record(str(tmp_path / "nope.jsonl")) is None
