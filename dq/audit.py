"""Audit store — the Iceberg-audit-table analog of the reference's Postgres
metrics sink (``storage/postgres_storage.py:74-180``: dimension_scores,
summary_metrics_table, summary_metrics_database, freshness,
row_count_history), plus the north-rule additions ``lineage``,
``rule_metrics`` and ``checkpoint`` (FIXTURES.md §4).

The write layer hides the storage behind one module (SURVEY.md §7.0).
Two modes, same call sites:

- **path mode** (default): a partitioned parquet directory per table —
  the sandbox stand-in, identical schemas and append semantics.
- **catalog mode** (``catalog_db=...``): managed catalog tables written
  through the DataFrameWriterV2 API (``df.writeTo(db.t).append()``).
  With an Iceberg catalog configured on the cluster
  (``spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog``)
  these are Iceberg tables with snapshot isolation; the sandbox
  exercises the exact same code path against the built-in session
  catalog (parquet provider), which is what keeps the mode testable
  here without Iceberg jars.

Write disciplines:
- ``append`` — append-only streams with no rerun semantics.
- ``overwrite_partitions`` — tables whose rows belong to a rerunnable
  unit (an execution_id, a day partition): written with DYNAMIC
  partition overwrite so a rerun REPLACES its own rows instead of
  duplicating them — partition-grain idempotency for crashed-and-rerun
  ``run_checks_job`` / ``run_pipeline`` regardless of where they died.

Layout: a writer emits one file per partition directory per task that
holds rows of it; how a job's frames are partitioned decides the file
count.

Distributed writes — the reference's batched psycopg2 INSERTs
(batch_size=1000, ``config/settings.py:97``) become executor-parallel
file commits. The small metric frames the jobs build on the driver
(check results, freshness, row-count history, checkpoint marks) reach
these writers as JVM local relations (``dq.session.local_frame``), so a
write of a few hundred rows runs in the JVM alone, with no Python worker
in its plan.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession

# The V1 insertInto fallback must flip the SESSION-global
# partitionOverwriteMode conf around its write; with concurrent writers
# (checks_job supports thread-pool table submission) one thread
# restoring 'static' while another's insertInto(overwrite=True) runs
# would truncate the whole table instead of overwriting its partitions.
# One process-wide lock serializes the flip+write+restore window.
_V1_OVERWRITE_LOCK = threading.Lock()

TABLES = (
    "check_results", "dimension_scores", "summary_metrics_table",
    "summary_metrics_database", "freshness", "row_count_history",
    "lineage", "rule_metrics", "checkpoint", "checkpoint_tables", "docs",
)

DEFAULT_PARTITIONING = {
    "lineage": ["partition_value"],
    "rule_metrics": ["partition_value"],
    "docs": ["partition_value"],
}


class AuditStore:
    def __init__(self, base_path: str | None = None,
                 partition_by: dict[str, list[str]] | None = None,
                 catalog_db: str | None = None):
        if base_path is None and catalog_db is None:
            raise ValueError("need base_path (path mode) or catalog_db "
                             "(catalog mode)")
        self.base = base_path.rstrip("/") if base_path else None
        self.catalog_db = catalog_db
        self.partition_by = partition_by or dict(DEFAULT_PARTITIONING)

    # ------------------------------------------------------------ common

    def path(self, table: str) -> str:
        if self.catalog_db:
            return f"{self.catalog_db}.{table}"
        return f"{self.base}/{table}"

    def append(self, table: str, df: DataFrame) -> None:
        if self.catalog_db:
            self._write_catalog(table, df, overwrite_parts=None)
            return
        writer = df.write.mode("append")
        parts = self.partition_by.get(table)
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(self.path(table))

    def overwrite_partitions(self, table: str, df: DataFrame,
                             keys: list[str] | None = None) -> None:
        """Idempotent write: the table is partitioned by ``keys`` (+ any
        declared partitioning) and ONLY the partitions present in ``df``
        are replaced (dynamic partition overwrite). Re-running a crashed
        job overwrites its own half-written rows instead of appending
        duplicates — partition-grain idempotency without a transaction
        log (and snapshot-atomic when the catalog is Iceberg)."""
        parts = list(keys or []) + [c for c in
                                    self.partition_by.get(table, [])
                                    if c not in (keys or [])]
        if not parts:
            raise ValueError(f"overwrite_partitions({table}) needs keys "
                             "or declared partitioning")
        if self.catalog_db:
            self._write_catalog(table, df, overwrite_parts=parts)
            return
        (df.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(*parts)
         .parquet(self.path(table)))

    def exists(self, table: str, spark: SparkSession | None = None) -> bool:
        if self.catalog_db:
            spark = spark or SparkSession.getActiveSession()
            if spark is None:
                raise RuntimeError(
                    "catalog-mode exists() needs a SparkSession (pass one "
                    "explicitly from worker threads — getActiveSession is "
                    "thread-local)")
            return spark.catalog.tableExists(self.path(table))
        p = self.path(table)
        if not os.path.isdir(p):
            return False
        for root, _dirs, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read(self, spark: SparkSession, table: str) -> DataFrame | None:
        if not self.exists(table, spark):
            return None
        if self.catalog_db:
            return spark.read.table(self.path(table))
        return spark.read.parquet(self.path(table))

    # ----------------------------------------------------------- catalog

    def _create_catalog_table(self, full: str, df: DataFrame,
                              parts: list[str]) -> bool:
        """Create via writer V2; True if created, False if it already
        existed (lost a creation race — caller should append instead)."""
        from pyspark.errors.exceptions.captured import AnalysisException
        from pyspark.sql import functions as F
        writer = df.writeTo(full)
        if parts:
            writer = writer.partitionedBy(*[F.col(p) for p in parts])
        try:
            writer.create()
            return True
        except AnalysisException as exc:
            if "TABLE_OR_VIEW_ALREADY_EXISTS" in str(exc) \
                    or "already exists" in str(exc).lower():
                return False
            raise

    def _write_catalog(self, table: str, df: DataFrame,
                       overwrite_parts: list[str] | None = None) -> None:
        from pyspark.errors.exceptions.captured import AnalysisException
        spark = df.sparkSession
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {self.catalog_db}")
        full = self.path(table)
        parts = overwrite_parts or list(self.partition_by.get(table, []))
        if not spark.catalog.tableExists(full):
            if self._create_catalog_table(full, df, parts):
                return
        if overwrite_parts:
            try:
                df.writeTo(full).overwritePartitions()   # V2 (Iceberg)
                return
            except AnalysisException as exc:
                if "v1 table" not in str(exc).lower():
                    raise
            # V1 session catalog: positional insertInto with dynamic
            # partition overwrite (columns reordered to table schema).
            # Lock held across flip+write+restore: see _V1_OVERWRITE_LOCK.
            cols = spark.table(full).columns
            with _V1_OVERWRITE_LOCK:
                prev = spark.conf.get(
                    "spark.sql.sources.partitionOverwriteMode", "static")
                spark.conf.set("spark.sql.sources.partitionOverwriteMode",
                               "dynamic")
                try:
                    df.select(*cols).write.insertInto(full, overwrite=True)
                finally:
                    spark.conf.set(
                        "spark.sql.sources.partitionOverwriteMode", prev)
            return
        try:
            df.writeTo(full).append()                    # V2 (Iceberg)
        except AnalysisException as exc:
            # ONLY the V1-table refusal falls back; genuine schema
            # errors must surface, not be retried down another path
            if "v1 table" not in str(exc).lower():
                raise
            writer = df.write.mode("append")
            if parts:
                writer = writer.partitionBy(*parts)
            writer.saveAsTable(full)
