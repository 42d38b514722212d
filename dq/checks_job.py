"""The table-check lifecycle job — the reference's primary entry path.

Re-expresses ``main.py:270-360`` + ``main.py:442-501`` (run all configured
tables through the six checks, then store four metric stages via
``storage/postgres_storage.py:191-606``) as one resumable Spark job:

1. read ``row_count_history`` back from the audit store and compute the
   dynamic row-count thresholds in ONE windowed pass (the cross-run
   feedback loop, reference ``core/quality_checks.py:516-625`` ↔
   ``postgres_storage.py:608-639`` — the reference opens a new Postgres
   connection inside each check; here the tiny per-table threshold map is
   computed once and carried into every check),
2. per configured table: one fused metrics aggregation → the six checks
   (dq.rules), skipping tables already checkpointed for this execution,
3. the DEV↔PROD row-count comparison over the accumulated counts
   (``main.py:214-268`` — zero-count pairs skipped),
4. persist check_results, dimension_scores, summary_metrics_table,
   summary_metrics_database, freshness (per-table time series,
   ``postgres_storage.py:497-507``), and row_count_history — the append
   that feeds the NEXT run's thresholds,
5. mark tables done (resume = anti-join semantics on the checkpoint
   keys) and optionally dump a JSON run manifest
   (``utils/helpers.py:13-46``).

Scale shape: each table is one distributed aggregation pass; everything
the driver holds is per-table scalars. The frames built from those
scalars (results, counts, freshness, history and checkpoint rows) are
JVM local relations (``dq.session.local_frame``), so the rollups and
audit writes over them run no Python-worker stage. Per-table jobs are
independent:
``max_concurrent_tables`` submits them from a thread pool (result lists
are reassembled in spec order, so output is identical to sequential —
with hundreds of configured tables the cluster otherwise idles between
tiny jobs).

Resume vs idempotency grain: metric overwrites are keyed by
execution_id, but resume skips at TABLE grain — so a partial rerun must
not overwrite the execution's partitions with only the subset it
reprocessed. Completed tables' rows are carried forward from the store
(check_results / freshness / row_count_history) into the rerun's result
set before any rollup or overwrite, and checkpoint marks are rewritten
with the union of old and new keys. A rerun therefore converges to the
same full artifact no matter where the previous attempt died.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dq import rules, scoring
from dq.audit import AuditStore
from dq.compare import compare_row_counts
from dq.session import local_frame
from dq.thresholds import Threshold, compute_thresholds, threshold_for


@dataclass(frozen=True)
class TableSpec:
    environment: str
    database: str
    table: str
    path: str                          # parquet path / table location
    expected_schema: dict[str, str]


CHECKPOINT_TABLES_SCHEMA = (
    "execution_id string, environment string, database_name string, "
    "table_name string, status string, completed_at timestamp")
ROW_COUNT_HISTORY_SCHEMA = (
    "execution_id string, execution_timestamp timestamp, "
    "environment string, database_name string, table_name string, "
    "row_count long")
_AUDIT_KEYS_SCHEMA = (
    "environment string, database_name string, table_name string")


def completed_tables(spark: SparkSession, store: AuditStore,
                     execution_id: str) -> set[tuple[str, str, str]]:
    """(environment, database, table) keys already checked this execution."""
    cp = store.read(spark, "checkpoint_tables")
    if cp is None:
        return set()
    rows = (cp.filter((F.col("execution_id") == execution_id)
                      & (F.col("status") == "done"))
            .select("environment", "database_name", "table_name")
            .distinct().collect())
    return {(r[0], r[1], r[2]) for r in rows}


def _mark_tables_done(spark: SparkSession, store: AuditStore,
                      execution_id: str, keys: list[tuple[str, str, str]],
                      completed_at: dt.datetime) -> None:
    if not keys:
        return
    df = local_frame(
        spark,
        [(execution_id, e, d, t, "done", completed_at) for e, d, t in keys],
        CHECKPOINT_TABLES_SCHEMA)
    store.overwrite_partitions("checkpoint_tables", df, ["execution_id"])


def freshness_rows(results: list[dict[str, Any]], execution_id: str,
                   run_ts: dt.datetime) -> list[tuple]:
    """Per-table freshness time-series rows (postgres_storage.py:497-507,
    table DDL :145-162): one row per freshness check result."""
    out = []
    for r in results:
        if r["test_name"] != "date_insertion_freshness_check":
            continue
        out.append((
            execution_id, run_ts, r["environment"], r["database"],
            r["table"], r.get("latest_date_found"),
            r.get("expected_date"), r.get("date_difference_days"),
            r["passed"],
        ))
    return out


FRESHNESS_SCHEMA = (
    "execution_id string, execution_timestamp timestamp, "
    "environment string, database_name string, table_name string, "
    "latest_date string, expected_date string, "
    "date_difference_days int, passed boolean")


def save_run_manifest(results: list[dict[str, Any]], out_dir: str,
                      execution_id: str, run_ts: dt.datetime,
                      extra: dict[str, Any] | None = None) -> str:
    """S6 JSON sink (reference ``utils/helpers.py:13-46``): dump the run's
    result dicts + summary counts to ``<out_dir>/dq_results_<id>.json``."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"dq_results_{execution_id}.json")
    payload = {
        "execution_id": execution_id,
        "execution_timestamp": run_ts.isoformat(),
        "total_tests": len(results),
        "passed_tests": sum(1 for r in results if r["passed"]),
        "failed_tests": sum(1 for r in results if not r["passed"]),
        "results": results,
    }
    if extra:
        payload.update(extra)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(payload, f, indent=2, default=str)
    return path


def _carry_forward(spark: SparkSession, store: AuditStore,
                   execution_id: str, done: set[tuple[str, str, str]]):
    """Rows already persisted for this execution's completed tables —
    re-read from the store so a partial rerun's execution_id-grain
    dynamic overwrites rewrite them instead of deleting them, and so
    every rollup/comparison sees the full result set.

    Restricted to CHECKPOINTED tables only: a table whose previous
    attempt persisted metrics but crashed before its checkpoint mark is
    reprocessed this run, and carrying its stale rows too would
    double-count it. Comparison rows are excluded (recomputed over the
    full carried+new counts). Returns (results_df|None, counts, fresh_df|None).

    Every carried frame is MATERIALIZED (collected and rebuilt) — the
    caller dynamic-overwrites the very tables these frames read from,
    and a lazy plan would try to re-read files the overwrite already
    deleted. The rows are per-table metric scalars, never data-sized.
    """
    if not done:
        return None, [], None
    keys = sorted(done)
    carried_df = None
    prev = store.read(spark, "check_results")
    if prev is not None:
        kdf = local_frame(
            spark, keys, "environment string, database string, table string")
        rows = (
            prev.filter(F.col("execution_id") == execution_id)
                .filter(F.col("test_name") != "row_count_comparison")
                .join(F.broadcast(kdf),
                      ["environment", "database", "table"])
                .select(*[f.name for f in scoring.RESULT_SCHEMA.fields])
                .collect())
        if rows:
            carried_df = local_frame(spark, rows, scoring.RESULT_SCHEMA)
    counts: list[tuple[str, str, str, int]] = []
    hist = store.read(spark, "row_count_history")
    if hist is not None:
        hdf = local_frame(spark, keys, _AUDIT_KEYS_SCHEMA)
        counts = [
            (r[0], r[1], r[2], int(r[3]))
            for r in (hist.filter(F.col("execution_id") == execution_id)
                      .join(F.broadcast(hdf),
                            ["environment", "database_name", "table_name"])
                      .select("environment", "database_name", "table_name",
                              "row_count").collect())]
    fresh_df = None
    fresh = store.read(spark, "freshness")
    if fresh is not None:
        fdf = local_frame(spark, keys, _AUDIT_KEYS_SCHEMA)
        frows = (fresh.filter(F.col("execution_id") == execution_id)
                 .join(F.broadcast(fdf),
                       ["environment", "database_name", "table_name"])
                 .select(*[c.split()[0] for c in
                           FRESHNESS_SCHEMA.split(", ")])
                 .collect())
        if frows:
            fresh_df = local_frame(spark, frows, FRESHNESS_SCHEMA)
    return carried_df, counts, fresh_df


def run_checks_job(
    spark: SparkSession,
    tables: list[TableSpec],
    execution_id: str,
    run_date: dt.date,
    store: AuditStore,
    resume: bool = True,
    manifest_dir: str | None = None,
    enabled: dict[str, bool] | None = None,
    max_concurrent_tables: int = 1,
) -> dict[str, Any]:
    """One full check run over every configured table.

    Returns {'results': list[dict], 'results_df', 'table_summary',
    'database_summary', 'dimension_scores', 'test_type_stats',
    'thresholds': {key: Threshold}, 'manifest_path'}.
    All five audit tables (check_results, dimension_scores,
    summary_metrics_table, summary_metrics_database, freshness) plus
    row_count_history are persisted via execution_id-keyed dynamic
    overwrites; re-running the same execution_id after a failure skips
    already-completed tables, carries their persisted rows forward (see
    module docstring), and never appends twice.

    ``max_concurrent_tables`` > 1 submits independent per-table check
    jobs from a thread pool — results are identical (reassembled in
    spec order; nothing below mutates session state).
    """
    run_ts = dt.datetime.combine(run_date, dt.time(0, 0))

    # 1. the cross-run feedback loop: history in → thresholds out
    history = store.read(spark, "row_count_history")
    thresholds: dict[tuple[str, str, str], Threshold] = \
        compute_thresholds(history)

    done = completed_tables(spark, store, execution_id) if resume else set()

    todo = [spec for spec in tables
            if (spec.environment, spec.database, spec.table) not in done]

    def check_one(spec: TableSpec) -> list[dict[str, Any]]:
        key = (spec.environment, spec.database, spec.table)
        df = spark.read.parquet(spec.path)
        thr = threshold_for(thresholds, *key)
        return rules.run_all_checks(
            df, spec.database, spec.table, spec.expected_schema,
            run_date=run_date, threshold=thr,
            environment=spec.environment, enabled=enabled)

    if max_concurrent_tables > 1 and len(todo) > 1:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_concurrent_tables) as pool:
            per_table = list(pool.map(check_one, todo))
    else:
        per_table = [check_one(spec) for spec in todo]

    results: list[dict[str, Any]] = []
    counts: list[tuple[str, str, str, int]] = []
    fresh_keys: list[tuple[str, str, str]] = []
    for spec, table_results in zip(todo, per_table):
        key = (spec.environment, spec.database, spec.table)
        results.extend(table_results)
        for r in table_results:
            if r["test_name"] == "row_count_check":
                counts.append((*key, int(r["actual_row_count"])))
        fresh_keys.append(key)
    new_results = list(results)          # freshness detail fields live here

    results_df = scoring.results_to_df(spark, results)

    # 1b. carry completed tables' persisted rows into this rerun — but
    # only when something is actually reprocessed: a fully-resumed rerun
    # recomputes and rewrites nothing (every overwrite below is a no-op
    # on empty frames), which keeps it a true no-op
    carried_df, carried_counts, carried_fresh = (
        _carry_forward(spark, store, execution_id, done) if todo
        else (None, [], None))
    if carried_df is not None:
        results.extend(r.asDict() for r in carried_df.collect())
        results_df = results_df.unionByName(carried_df)
    counts.extend(carried_counts)

    # 2. DEV↔PROD comparison over the tiny accumulated counts
    comparison_df = None
    if counts:
        counts_df = local_frame(
            spark, counts, "environment string, database string, "
                           "table string, row_count long")
        comparison_df = compare_row_counts(counts_df)
        comp_rows = [
            {"environment": "DEV", "database": r["database"],
             "table": r["table"], "partition": None,
             "test_name": "row_count_comparison",
             "dimension": r["dimension"], "passed": r["passed"],
             "details": (f"DEV has {r['dev_count']} rows, PROD has "
                         f"{r['prod_count']} rows "
                         f"(difference: {r['difference']})")}
            for r in comparison_df.collect()
        ]
        results.extend(comp_rows)
        if comp_rows:
            results_df = results_df.unionByName(
                scoring.results_to_df(spark, comp_rows))

    # 3. rollups (all groupBy().agg() — JVM-side at any result volume)
    table_sum = scoring.table_summary(results_df)
    db_sum = scoring.database_summary(results_df)
    dim_scores = scoring.dimension_scores(results_df)
    tt_stats = scoring.test_type_stats(results_df)

    # 4. persist the metric stages (main.py:442-501 analog) as DYNAMIC
    # partition overwrites keyed by execution_id: a crash anywhere in
    # this block followed by a rerun of the same execution_id REPLACES
    # the half-written partitions instead of appending duplicates — the
    # checkpoint marking (last) is purely a skip-optimization, never a
    # correctness gate
    stamp = [F.lit(execution_id).alias("execution_id"),
             F.lit(run_ts).alias("execution_timestamp")]
    ekeys = ["execution_id"]
    store.overwrite_partitions(
        "check_results", results_df.select(*stamp, "*"), ekeys)
    store.overwrite_partitions(
        "dimension_scores", dim_scores.select(*stamp, "*"), ekeys)
    store.overwrite_partitions(
        "summary_metrics_table", table_sum.select(*stamp, "*"), ekeys)
    store.overwrite_partitions(
        "summary_metrics_database", db_sum.select(*stamp, "*"), ekeys)
    # freshness detail fields (latest_date_found, ...) only exist on the
    # freshly-computed dicts; completed tables' rows come back from the
    # persisted freshness table itself
    frows = freshness_rows(new_results, execution_id, run_ts)
    fresh_df = (local_frame(spark, frows, FRESHNESS_SCHEMA)
                if frows else None)
    if carried_fresh is not None:
        fresh_df = (carried_fresh if fresh_df is None
                    else fresh_df.unionByName(carried_fresh))
    if fresh_df is not None:
        store.overwrite_partitions("freshness", fresh_df, ekeys)
    if counts:
        store.overwrite_partitions("row_count_history", local_frame(
            spark,
            [(execution_id, run_ts, e, d, t, c) for e, d, t, c in counts],
            ROW_COUNT_HISTORY_SCHEMA), ["execution_id", "table_name"])
    # checkpoint rewrite must keep the previously-done marks: the
    # overwrite is execution_id-keyed, so writing only the new keys
    # would erase resume state for the completed tables
    _mark_tables_done(spark, store, execution_id,
                      fresh_keys + (sorted(done) if todo else []), run_ts)

    manifest_path = None
    if manifest_dir:
        manifest_path = save_run_manifest(results, manifest_dir,
                                          execution_id, run_ts)

    return {
        "results": results, "results_df": results_df,
        "comparison": comparison_df,
        "table_summary": table_sum, "database_summary": db_sum,
        "dimension_scores": dim_scores, "test_type_stats": tt_stats,
        "thresholds": thresholds, "manifest_path": manifest_path,
    }
