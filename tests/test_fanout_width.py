"""fan_out width rule: the round-6 contract.

Pins the data-sized fan-out that the round-6 narrow-scan fixes lean on, at
the 64 KB default density:

- a single-file parquet scan bigger than one chunk fans to
  ``min(cluster width, bytes // chunk + 1)`` partitions;
- a sub-chunk input is returned UNCHANGED (no exchange: the kernel does
  the whole batch in one vectorized pass faster than a shuffle costs);
- an input already wider than the target is never repartitioned DOWN;
- the size comes from Spark's own file index, so a remote (s3a/hdfs) input
  follows the same rule as a local one;
- an input scanned twice (a self-union) counts its bytes once;
- a frame that reads no files fans to the cluster width unless it is
  already parallel.
"""

from __future__ import annotations

import os

import pytest

from open_vector_tile_spark.operators._parallel import fan_out


def _write_docs_parquet(tmp_path, n_rows: int, words_per_row: int) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(tmp_path, f"docs_{n_rows}.parquet")
    # distinct per-row text so parquet's dictionary/RLE encoding cannot
    # collapse the file below the byte sizes the width heuristic reads
    texts = [
        " ".join(f"w{(i * 7919 + j * 104729) % 100000:05d}" for j in range(words_per_row))
        for i in range(n_rows)
    ]
    pq.write_table(
        pa.table({"doc_id": list(range(n_rows)), "text": texts}),
        path,
        compression="none",
    )
    return path


def test_narrow_scan_fans_to_data_sized_width(spark, tmp_path):
    # ~0.5 MB of parquet -> ceil-ish width 0.5M//64K + 1 = 8-9 tasks,
    # instead of the 1-task single-row-group scan
    path = _write_docs_parquet(str(tmp_path), 1000, 80)
    size = os.path.getsize(path)
    assert size > 4 * 64 * 1024, "fixture must span several 64 KB chunks"
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1  # the disease this fixes
    fanned = fan_out(df)
    width = fanned.rdd.getNumPartitions()
    expect = min(spark.sparkContext.defaultParallelism, size // (64 * 1024) + 1)
    assert width == expect
    assert width > 1
    # values untouched, only partitioning
    assert sorted(r.doc_id for r in fanned.select("doc_id").collect()) == list(
        range(1000)
    )


def test_sub_chunk_input_is_left_alone(spark, tmp_path):
    path = _write_docs_parquet(str(tmp_path), 20, 5)
    assert os.path.getsize(path) < 64 * 1024
    df = spark.read.parquet(path)
    fanned = fan_out(df)
    # same plan object semantics: no repartition inserted
    assert fanned is df


def test_already_wide_input_never_narrowed(spark, tmp_path):
    path = _write_docs_parquet(str(tmp_path), 1000, 80)
    df = spark.read.parquet(path).repartition(64)
    fanned = fan_out(df)
    assert fanned.rdd.getNumPartitions() == 64


def test_heavier_kernels_fan_wider(spark, tmp_path):
    # the per-kernel density parameter: 16 KB/task (clip/codec class) fans
    # the same bytes 4x wider than the 64 KB default, both capped at
    # cluster width
    path = _write_docs_parquet(str(tmp_path), 400, 40)
    size = os.path.getsize(path)
    df = spark.read.parquet(path)
    w_default = fan_out(df).rdd.getNumPartitions()
    w_fine = fan_out(df, chunk=16 * 1024).rdd.getNumPartitions()
    cap = spark.sparkContext.defaultParallelism
    assert w_fine == min(cap, size // (16 * 1024) + 1)
    assert w_fine >= w_default


def test_remote_wide_input_is_not_reshuffled(spark, tmp_path, monkeypatch):
    # a wide scan whose listing reads s3a://...: nothing about the URL
    # scheme may force a shuffle down to one wave
    path = _write_docs_parquet(str(tmp_path), 1000, 80)
    df = spark.read.parquet(path).repartition(64)
    monkeypatch.setattr(
        type(df), "inputFiles", lambda self: ["s3a://bucket/documents.parquet"]
    )
    assert df.inputFiles() == ["s3a://bucket/documents.parquet"]
    assert fan_out(df).rdd.getNumPartitions() == 64


def test_file_less_input_fans_to_cluster_width(spark):
    cap = spark.sparkContext.defaultParallelism
    narrow = spark.createDataFrame([(i,) for i in range(100)], "a int").coalesce(1)
    assert fan_out(narrow).rdd.getNumPartitions() == cap
    # already at the narrow-scan threshold (half the cluster, at least 2)
    wide = spark.range(0, 1000, 1, max(2, cap // 2))
    assert fan_out(wide) is wide


def test_self_union_counts_its_input_once(spark, tmp_path):
    # a frame that scans one file twice (corpus + edited recrawl, as in the
    # cdc_dedup and containment_dups queries) arrives with one partition
    # per scan; its bytes count once, and it still fans to the data-sized
    # width even though 2 partitions reach the file-less threshold
    cap = spark.sparkContext.defaultParallelism
    path = _write_docs_parquet(str(tmp_path), 200, 80)
    assert 64 * 1024 <= os.path.getsize(path) < 128 * 1024 and cap >= 4
    small = spark.read.parquet(path)
    union = small.unionAll(small.filter("doc_id % 4 = 0"))
    assert union.rdd.getNumPartitions() == 2
    assert fan_out(union) is union  # width 2, not the 4 of a doubled count
    path = _write_docs_parquet(str(tmp_path), 1000, 80)
    big = spark.read.parquet(path)
    union = big.unionAll(big.filter("doc_id % 4 = 0"))
    expect = min(cap, os.path.getsize(path) // (64 * 1024) + 1)
    assert expect > 2
    assert fan_out(union).rdd.getNumPartitions() == expect
