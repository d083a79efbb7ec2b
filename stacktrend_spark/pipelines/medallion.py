"""Medallion storage layer: bronze/silver/gold namespaces over
partitioned parquet, with the reference's write policies.

The reference writes to per-layer Fabric lakehouses (settings.py:28-30)
with two write modes: full overwrite + overwriteSchema + partitionBy
(b2s:935-941 etc.) and SQL MERGE upserts (SURVEY §2.1 S10-S14). Here a
layer is a directory namespace; overwrite keeps the same
partitionBy("partition_date", ...) layout (partition pruning works
identically) and upserts run through operators/merge.py then rewrite —
on a Delta-enabled cluster the same call sites would emit MERGE INTO
with partition-aligned file skipping.

100 TB notes: writes always partitionBy partition_date (+ a secondary
dimension when the reference does) so daily reruns only touch one
partition; readers filter on partition_date and get directory-level
pruning for free.

Table metadata stays with the store: on the parquet backend a read of
a table this store wrote reuses the schema Spark inferred for it
before, instead of running a footer-read job to rediscover what the
store itself just wrote (``MedallionStore.read``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from stacktrend_spark.operators.checkpoint import local_checkpoint
from stacktrend_spark.operators.delta_backend import (
    delta_available,
    merge_into_delta,
)
from stacktrend_spark.operators.merge import (
    merge_full_sync,
    merge_insert_only,
    merge_preserve,
    merge_upsert,
)

LAYERS = ("bronze", "silver", "gold")


def _partition_dirs(path: str) -> tuple[str, ...]:
    """Relative paths of every ``col=value`` directory under a table,
    sorted; a listing on the driver, no Spark job."""
    out: list[str] = []
    pending = [""]
    while pending:
        rel = pending.pop()
        with os.scandir(os.path.join(path, rel)) as entries:
            for e in entries:
                if e.is_dir() and "=" in e.name and not e.name.startswith(("_", ".")):
                    sub = os.path.join(rel, e.name)
                    pending.append(sub)
                    out.append(sub)
    return tuple(sorted(out))


def _ends_in_exchange(df: DataFrame) -> bool:
    """Whether the frame's output partitions are a shuffle's: the first
    operator under its projections and filters is an aggregate or a
    window, which plans an exchange below it (to one partition when it
    has no keys) unless its input is already partitioned on its keys.
    Read off the analyzed plan, which the frame already holds; asking
    for the physical plan would plan the frame once more before the
    write plans it again (about 20 ms a gold frame on 4 cores)."""
    node = df._jdf.queryExecution().analyzed()
    name = node.nodeName()
    while name in ("Project", "Filter"):
        node = node.child()
        name = node.nodeName()
    return name in ("Aggregate", "Window")


class MedallionStore:
    """``backend`` is "delta" when delta-spark is importable (storage
    merges run as true MERGE INTO — operators/delta_backend.py), else
    "parquet" (relational emulation + overwrite). Same API either way;
    pass ``backend="parquet"`` to force the emulation."""

    def __init__(self, root: str, backend: str | None = None):
        self.root = root
        self.backend = backend or ("delta" if delta_available() else "parquet")
        if self.backend not in ("delta", "parquet"):
            raise ValueError(f"unknown backend {self.backend!r}")
        # parquet backend, per table path: the schema of the frame last
        # written there, and the schema Spark inferred on the first read
        # after a write, with the (written schema, partition dirs) key
        # it was inferred under
        self._written: dict[str, StructType] = {}
        self._inferred: dict[str, tuple[tuple, StructType]] = {}

    def path(self, layer: str, table: str) -> str:
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        return os.path.join(self.root, layer, table)

    def exists(self, layer: str, table: str) -> bool:
        return os.path.isdir(self.path(layer, table))

    def read(self, spark: SparkSession, layer: str, table: str) -> DataFrame:
        """The stored table. A parquet table this store wrote is read
        with the schema Spark inferred the last time its written schema
        and its partition directories were the same: no footer-read job,
        and partition columns keep their inferred types. A new partition
        value, a new written schema, or a table written elsewhere is
        inferred (once per key); the Delta path always resolves through
        its log. The reuse assumes no other writer replaces a table with
        another schema behind this store's back."""
        path = self.path(layer, table)
        reader = spark.read.format(self.backend)
        written = self._written.get(path)
        if written is None:
            return reader.load(path)
        key = (written, _partition_dirs(path))
        recorded = self._inferred.get(path)
        if recorded is not None and recorded[0] == key:
            return reader.schema(recorded[1]).load(path)
        df = reader.load(path)
        self._inferred[path] = (key, df.schema)
        return df

    def overwrite(
        self, df: DataFrame, layer: str, table: str, partition_by: list[str] | None = None
    ) -> None:
        """Full overwrite (S10): mode=overwrite + partitionBy — the
        reference's overwriteSchema is implicit for parquet dirs and
        passed explicitly on the delta path.

        The write is preceded by an AQE REBALANCE (clustered by the
        partition columns when partitioned): output files come out at
        the advisory partition size regardless of the input's task
        layout — a 300-row bronze frame parallelized 32 ways lands as
        one file instead of 32, and a skewed partition at cluster
        scale is split rather than written as one giant file. The
        sizing follows spark.sql.adaptive.advisoryPartitionSizeInBytes,
        so the same code is right at sf0.001 and at 100 TB (r13
        optimization: the per-write task-commit overhead of 32 near-
        empty files dominated the medallion pipelines' wall time).
        An unpartitioned frame whose rows already come out of a shuffle
        (``_ends_in_exchange``) is written as it is: AQE coalesces that
        exchange to the same advisory size, and a rebalance on top of
        it would cost one more shuffle stage and job.

        On the parquet backend a successful write records the frame's
        schema, which keys ``read``'s schema reuse.
        """
        path = self.path(layer, table)
        self._written.pop(path, None)
        written = df.schema if self.backend == "parquet" else None
        if partition_by:
            df = df.hint("rebalance", *partition_by)
        elif not _ends_in_exchange(df):
            df = df.hint("rebalance")
        writer = df.write.format(self.backend).mode("overwrite")
        if self.backend == "delta":
            writer = writer.option("overwriteSchema", "true")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(path)
        if written is not None:
            self._written[path] = written

    def upsert(
        self,
        spark: SparkSession,
        df: DataFrame,
        layer: str,
        table: str,
        keys: list[str],
        policy: str = "upsert",
        partition_by: list[str] | None = None,
        preserve_cols: list[str] | None = None,
        preserve_when=None,
        sync_scope=None,
        sync_scope_target_sql: str | None = None,
    ) -> None:
        """Keyed merge write (S11/S12/S14 + the r8 full-sync clause
        family). policy ∈ {upsert, insert_only, preserve, full_sync}.
        First write = plain write (the MERGE no-target case)."""
        if not self.exists(layer, table):
            # First write = MERGE against an empty target, so each
            # policy's no-target result must equal its merge result:
            # insert_only collapses duplicate keys, and full_sync
            # keeps only in-scope, key-unique source rows (NULL/FALSE
            # scope rows are ignored exactly as merge_full_sync and
            # the Delta builder do — a sync against a new table and
            # against an empty existing table now yield identical
            # contents).
            if policy == "insert_only":
                merged = df.dropDuplicates(keys)
            elif policy == "full_sync":
                if sync_scope is None:
                    raise ValueError("full_sync policy needs sync_scope")
                merged = df.filter(
                    F.coalesce(sync_scope, F.lit(False))
                ).dropDuplicates(keys)
            else:
                merged = df
        elif self.backend == "delta":
            # true MERGE INTO: transactional, file-skipping, no rewrite
            merge_into_delta(
                spark,
                self.path(layer, table),
                df,
                keys,
                policy=policy,
                preserve_cols=preserve_cols,
                preserve_when=preserve_when,
                sync_scope=sync_scope,
                sync_scope_target_sql=sync_scope_target_sql,
            )
            return
        else:
            target = self.read(spark, layer, table).select(*df.columns)
            if policy == "upsert":
                merged = merge_upsert(target, df, keys)
            elif policy == "insert_only":
                merged = merge_insert_only(target, df, keys)
            elif policy == "preserve":
                merged = merge_preserve(
                    target, df, keys, preserve_cols or [], preserve_when
                )
            elif policy == "full_sync":
                if sync_scope is None:
                    raise ValueError("full_sync policy needs sync_scope")
                merged = merge_full_sync(target, df, keys, sync_scope)
            else:
                raise ValueError(f"unknown merge policy {policy!r}")
            # parquet dirs can't be read and overwritten in one job —
            # materialize then rewrite (Delta MERGE removes this at scale)
            merged = local_checkpoint(merged)
        self.overwrite(merged, layer, table, partition_by)
