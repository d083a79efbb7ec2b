"""One materialization point for plans that must run exactly once.

``local_checkpoint`` runs the plan now (``eager=True``), stores its
rows in executor memory spilling to disk, serialized to bound the heap,
and returns a frame whose lineage starts at those blocks: every later
action reads the same rows instead of re-running the plan. Spark's
ContextCleaner frees the blocks once the returned frame is dropped and,
unlike ``persist()``'s, no other query reads them through an equal plan.
On a cluster, losing an executor that holds them fails the reading
query loudly; nothing is recomputed.

For an intermediate result, take the first that applies: (a) read once,
or recomputing it measures no slower: materialize nothing; (b) the
returned lazy plan reads it more than once: ``local_checkpoint``; (c)
only driver actions inside the function read it (a convergence loop's
counts): ``persist()``, and ``unpersist()`` before returning.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def local_checkpoint(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
