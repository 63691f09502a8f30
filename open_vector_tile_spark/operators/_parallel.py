"""The fan-out rule for per-row-heavy kernels.

Small inputs arrive narrow: a single-row-group parquet file is one scan
task, and a per-row-heavy kernel (shingling, hashing, regex chains, Python
clip loops) fused into that scan stage then runs serially.  ``fan_out``
widens such a frame to a data-sized width before the kernel.  Width is a
cost comparison on input size (*To Partition, or Not to Partition*,
SIGMOD 2021): a shuffle pays only when each task still gets a chunk of
work worth more than its launch.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame


def _input_bytes(df: DataFrame) -> Optional[int]:
    """Bytes of the files ``df`` reads, or None when it reads none
    (createDataFrame, range, checkpoint).

    Read from the file relations at the leaves of the optimized plan:
    Spark's own file index, filled when the scan listed its files, so this
    costs no I/O and reads the same for every URL scheme (file, s3a, hdfs,
    ...).  An input scanned twice (a self-union) counts once, and the size
    is the whole files', not the pruned columns'."""
    sizes = {}
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.nodeName() != "LogicalRelation":
            continue
        relation = leaf.relation()
        if relation.getClass().getSimpleName() == "HadoopFsRelation":
            sizes[relation.location().rootPaths().toString()] = relation.sizeInBytes()
    return sum(sizes.values()) if sizes else None


def fan_out(df: DataFrame, chunk: int = 64 * 1024) -> DataFrame:
    """Repartition ``df`` to ``min(cluster width, input bytes // chunk + 1)``
    partitions unless it is already that wide; a frame that reads no files
    fans to the full cluster width unless it already has half of it.

    ``chunk`` is the bytes of input per task.  The 64 KB default is
    calibrated to the shingle/minhash kernels: in alternating A/Bs over
    every default caller it beat 256 KB on minhash/simhash/span/containment
    at both sf0.1 and sf1.0 (-11..-18%) and was flat on cdc/line; ~250 KB
    of text per task keeps the kernel >= 10 ms/task, well above task-launch
    cost.  Kernels whose per-row cost is orders of magnitude heavier (the
    per-tile line clipper: ~ms/row, not us) pass 16 KB so the same data
    fans wider.

    A sub-chunk input is returned unchanged: the kernel does the whole
    batch in one vectorized pass faster than a shuffle round-trip costs (a
    sub-chunk input fanned to 32 tasks cost ~1 s of the sf0.1
    dedup_minhash headline).  An input already at its width is never
    reshuffled, so an upstream repartition is never shuffled back DOWN,
    and a big file, which Spark already splits about one task per core,
    keeps its scan tasks.  The partition count comes from ``df.rdd``,
    which sees a downstream ``coalesce(1)`` that a file listing cannot; it
    plans, it does not execute."""
    target = df.sparkSession.sparkContext.defaultParallelism
    nbytes = _input_bytes(df)
    if nbytes is None:
        width, wide_enough = target, max(2, target // 2)
    else:
        width = wide_enough = min(target, nbytes // chunk + 1)
    if width <= 1 or df.rdd.getNumPartitions() >= wide_enough:
        return df
    return df.repartition(width)
