"""Shared helpers for the training-data operators."""

from __future__ import annotations

from pyspark.sql import DataFrame

from dvx.session import MAX_PARTITION_BYTES


def widen_partitions(df: DataFrame) -> DataFrame:
    """Spread a small input over the cores before a compute-heavy
    per-row pipeline (shingling, regex batteries, LSH signature dot
    products).

    A small parquet input — one file under
    ``spark.sql.files.maxPartitionBytes`` — arrives as a SINGLE scan
    partition, which pins every downstream codegen expression to one
    core regardless of cluster size (guide §2.5 "input skew": one
    unsplittable input; measured: 5k docs -> 250k shingles computed on
    1 of 32 cores, 8 s where the cluster-wide cost is <1 s). The
    round-robin repartition costs one tiny shuffle of the raw rows.

    The rule reads the optimizer's size estimate of the input (one
    logical pass, no physical planning): an input estimated at
    ``defaultParallelism`` full scan splits or more (or whose size is
    unknown) is returned unchanged, and anything smaller is spread
    round-robin over ``defaultParallelism`` tasks. The estimate is not
    the scan's real split count, so a small input that the scan already
    spreads (several small files, or one file whose row groups Spark
    splits) pays one extra round-robin shuffle of its rows, onto
    ``defaultParallelism`` tasks even where the scan had more.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return df if size >= target * MAX_PARTITION_BYTES else df.repartition(target)
