"""One materialization point for plans that must run exactly once.

``local_checkpoint`` runs the plan now (``eager=True``), stores its
rows in executor memory spilling to disk, serialized to bound the heap,
and returns a frame whose lineage starts at those blocks: every later
action reads the same rows instead of re-running the plan. Spark's
ContextCleaner frees the blocks once the returned frame is dropped. On
a cluster, losing an executor that holds them fails the reading query
loudly; nothing is recomputed.

Callers: the two-phase ranking operators (their offsets and local
ranks must read one range partitioning), the trend cycle's silver
(quarantine and curated silver are written from one run of the silver
plan) and the parquet store's read-rewrite upsert (a parquet directory
cannot be read and overwritten by one job).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def local_checkpoint(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
