"""Checkpointed resume — per-partition keep/drop state.

North-rule requirement (BASELINE.json): "checkpoints keep/drop state so
any partition can resume after failure". The reference has no counterpart
(SURVEY.md §2.8) — its only cross-run state is the Postgres history table.

Mechanics: a ``checkpoint`` audit table with one row per completed
(execution-scope, partition_value). Resume = LEFT-ANTI JOIN of the input
against completed partitions — the anti-join side is tiny (one row per
partition), so Catalyst broadcasts it; no data-side shuffle. Audit appends
are keyed by (execution_id, partition_value), which keeps reruns
idempotent: a partition is either fully absent (re-processed) or fully
present (skipped).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dq.audit import AuditStore
from dq.session import local_frame

CHECKPOINT_SCHEMA = (
    "scope string, execution_id string, partition_value date, "
    "status string, completed_at timestamp")


def completed_partitions(spark: SparkSession, store: AuditStore,
                         scope: str) -> list[dt.date]:
    """Partition_values already marked done for this scope.

    Collected to the driver: the list is one value per completed
    day-partition (bounded, ~thousands even at 10^12 docs), and pinning it
    as literals keeps downstream plans independent of the checkpoint
    table — a cached scored frame must not be invalidated/recomputed when
    this run's own ``mark_done`` appends to the checkpoint path.
    """
    cp = store.read(spark, "checkpoint")
    if cp is None:
        return []
    rows = (cp.filter((F.col("scope") == scope) & (F.col("status") == "done"))
              .select("partition_value").distinct().collect())
    return [r["partition_value"] for r in rows]


def filter_unprocessed(df: DataFrame, done: list[dt.date],
                       partition_col: str = "partition_value") -> DataFrame:
    """Drop already-completed partitions (partition-pruning-friendly)."""
    if not done:
        return df
    return df.filter(~F.col(partition_col).isin(done))


def mark_done(spark: SparkSession, store: AuditStore, scope: str,
              execution_id: str, partition_values: list[dt.date],
              completed_at: dt.datetime) -> None:
    if not partition_values:
        return
    rows = [(scope, execution_id, p, "done", completed_at)
            for p in partition_values]
    # one file per run: the local relation would otherwise be split
    # over defaultParallelism files
    store.append("checkpoint",
                 local_frame(spark, rows, CHECKPOINT_SCHEMA).coalesce(1))
