"""Scan-parallelism guard for per-row-compute-heavy stages.

A columnar scan's task count is bounded by the file split count —
single-row-group parquet files (the local testdata) scan as ONE task no
matter how many cores the session has, so every narrow featurization
stage upstream of the first shuffle (hyperplane projections, shingle
hashing, PQ encoding, tokenization) runs serially. On a production
corpus the scan arrives in thousands of splits and this helper is a
no-op; locally it restores the parallelism the operator's cost model
assumes.

Only safe for stages whose RESULT is partition-independent: per-row
transforms, integer/count aggregates, min/max, hash joins. Do NOT
apply upstream of order-sensitive logic (driver-side samples, float
sums whose oracle pins one accumulation order, limit()-based seeds) —
a repartition changes row placement and order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition ``df`` up to ``target`` partitions
    (default: the session's default parallelism) iff it currently has
    fewer — one tiny shuffle locally, a no-op on an already-parallel
    production scan.

    The goal is cores, not bytes: the spread stages are compute-bound
    (unlike shuffle sizing, which wants bytes). Goals of 4/8/16/32 on
    the LSH family at 32 cores measured flat within noise."""
    spark = df.sparkSession
    goal = target or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < goal:
        return df.repartition(goal)
    return df
