"""End-to-end table-check job: the reference's main.py lifecycle —
checks over configured tables, four metric stages persisted, DEV↔PROD
comparison, dynamic-threshold feedback across runs, resume idempotency,
JSON run manifest (reference main.py:270-360, 442-501;
storage/postgres_storage.py:191-639; utils/helpers.py:13-46)."""

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from dq.audit import AuditStore
from dq.checks_job import TableSpec, run_checks_job

RUN_DATE = dt.date(2025, 10, 3)
SCHEMA = {"id": "bigint", "name": "string", "date_insertion": "timestamp"}


def _write_table(spark, path: str, n: int, fresh: bool = True) -> None:
    day = RUN_DATE - dt.timedelta(days=1 if fresh else 3)
    ts = dt.datetime.combine(day, dt.time(12, 0))
    df = spark.createDataFrame(
        [(i, f"name_{i}", ts) for i in range(n)],
        "id long, name string, date_insertion timestamp")
    df.coalesce(1).write.mode("overwrite").parquet(path)


@pytest.fixture()
def specs(spark, tmp_path):
    dev = str(tmp_path / "dev_t1")
    prod = str(tmp_path / "prod_t1")
    _write_table(spark, dev, 50)
    _write_table(spark, prod, 60)
    return [
        TableSpec("DEV", "db1", "t1", dev, SCHEMA),
        TableSpec("PROD", "db1", "t1", prod, SCHEMA),
    ]


def test_full_run_persists_all_metric_stages(spark, tmp_path, specs):
    store = AuditStore(str(tmp_path / "audit"))
    out = run_checks_job(spark, specs, "e1", RUN_DATE, store,
                         manifest_dir=str(tmp_path / "res"))

    # six checks per table + one comparison row
    assert len(out["results"]) == 13
    by_test = {}
    for r in out["results"]:
        by_test.setdefault(r["test_name"], []).append(r)
    assert len(by_test["row_count_check"]) == 2
    comp = by_test["row_count_comparison"][0]
    assert comp["passed"] is True          # 50 <= 60

    # all five metric tables + history + checkpoint are non-empty
    for t in ("check_results", "dimension_scores", "summary_metrics_table",
              "summary_metrics_database", "freshness", "row_count_history",
              "checkpoint_tables"):
        df = store.read(spark, t)
        assert df is not None and df.count() > 0, t

    hist = store.read(spark, "row_count_history")
    counts = {(r["environment"], r["table_name"]): r["row_count"]
              for r in hist.collect()}
    assert counts == {("DEV", "t1"): 50, ("PROD", "t1"): 60}

    fresh = store.read(spark, "freshness").collect()
    assert all(r["passed"] for r in fresh)
    assert all(r["latest_date"] == "2025-10-02" for r in fresh)

    tt = {r["test_name"]: r for r in out["test_type_stats"].collect()}
    assert tt["row_count_check"]["total"] == 2
    assert tt["row_count_comparison"]["passed"] == 1

    with open(out["manifest_path"], encoding="utf-8") as f:
        manifest = json.load(f)
    assert manifest["execution_id"] == "e1"
    assert manifest["total_tests"] == 13
    assert manifest["passed_tests"] + manifest["failed_tests"] == 13


def test_dynamic_threshold_feedback_across_runs(spark, tmp_path, specs):
    store = AuditStore(str(tmp_path / "audit"))
    key = ("DEV", "db1", "t1")

    out1 = run_checks_job(spark, specs, "e1", RUN_DATE, store)
    # no history yet → manual fallback (reference settings.py:124)
    assert out1["thresholds"] == {}
    rc1 = [r for r in out1["results"]
           if r["test_name"] == "row_count_check"
           and r["environment"] == "DEV"][0]
    assert rc1["calculation_method"] == "manual"
    assert rc1["minimum_required"] == 2

    out2 = run_checks_job(spark, specs, "e2",
                          RUN_DATE + dt.timedelta(days=1), store)
    # one history record → still manual (<2 records, quality_checks.py:565)
    assert out2["thresholds"][key].method == "manual"

    out3 = run_checks_job(spark, specs, "e3",
                          RUN_DATE + dt.timedelta(days=2), store)
    # two records, constant counts → increment trend, avg_inc = 0,
    # min = max(int(latest + 0*(1-0.2)), 1) = latest
    thr = out3["thresholds"][key]
    assert thr.method == "increment"
    assert thr.historical_records == 2
    assert thr.average_increment == 0.0
    assert thr.min_rows == 50
    rc3 = [r for r in out3["results"]
           if r["test_name"] == "row_count_check"
           and r["environment"] == "DEV"][0]
    assert rc3["calculation_method"] == "increment"
    assert rc3["minimum_required"] == 50
    assert rc3["passed"] is True

    # threshold actually gates: shrink the DEV table below the trend min
    _write_table(spark, specs[0].path, 10)
    out4 = run_checks_job(spark, specs, "e4",
                          RUN_DATE + dt.timedelta(days=3), store)
    rc4 = [r for r in out4["results"]
           if r["test_name"] == "row_count_check"
           and r["environment"] == "DEV"][0]
    assert rc4["passed"] is False
    assert rc4["minimum_required"] == 50


def test_resume_skips_completed_tables(spark, tmp_path, specs):
    store = AuditStore(str(tmp_path / "audit"))
    run_checks_job(spark, specs, "e1", RUN_DATE, store)
    before = store.read(spark, "check_results").count()

    # same execution id again → everything checkpointed, nothing appended
    out = run_checks_job(spark, specs, "e1", RUN_DATE, store)
    assert out["results"] == []
    assert store.read(spark, "check_results").count() == before

    # a new execution id reprocesses everything
    out2 = run_checks_job(spark, specs, "e2", RUN_DATE, store)
    assert len(out2["results"]) == 13


def test_crashed_rerun_does_not_duplicate(spark, tmp_path, specs):
    """Crash-window idempotency: metric writes are dynamic partition
    overwrites keyed by execution_id, so a run that died AFTER
    persisting metrics but BEFORE checkpointing (the worst window)
    replaces its own rows on rerun instead of appending duplicates."""
    import shutil

    store = AuditStore(str(tmp_path / "audit"))
    run_checks_job(spark, specs, "e1", RUN_DATE, store)
    counts1 = {t: store.read(spark, t).count()
               for t in ("check_results", "dimension_scores",
                         "summary_metrics_table", "freshness",
                         "row_count_history")}

    # simulate the crash: metrics persisted, checkpoint never written
    shutil.rmtree(store.path("checkpoint_tables"))
    run_checks_job(spark, specs, "e1", RUN_DATE, store)

    counts2 = {t: store.read(spark, t).count()
               for t in counts1}
    assert counts2 == counts1          # replaced, not duplicated
    # and the checkpoint now exists, so a third run is a no-op
    out3 = run_checks_job(spark, specs, "e1", RUN_DATE, store)
    assert out3["results"] == []


def test_partial_resume_carries_completed_tables_forward(spark, tmp_path,
                                                         specs):
    """Resume grain is per-table but overwrite grain is per-execution:
    a rerun of the same execution_id that skips checkpointed tables and
    processes a NEW table must not wipe the completed tables' persisted
    rows, and the rollups/comparison must span old + new."""
    store = AuditStore(str(tmp_path / "audit"))
    run_checks_job(spark, specs, "e1", RUN_DATE, store)

    extra = str(tmp_path / "dev_t9")
    _write_table(spark, extra, 30)
    specs2 = specs + [TableSpec("DEV", "db1", "t9", extra, SCHEMA)]
    out = run_checks_job(spark, specs2, "e1", RUN_DATE, store)

    cr = store.read(spark, "check_results") \
        .filter(F.col("execution_id") == "e1")
    by_table = {r["table"]: r["cnt"] for r in
                cr.groupBy("table").agg(F.count("*").alias("cnt")).collect()}
    # 6 checks per (env, table) pairing + comparison rows: t1 was carried
    # (2 envs x 6 + its comparison), t9 freshly computed
    assert by_table.get("t1", 0) >= 12, by_table
    assert by_table.get("t9", 0) >= 6, by_table

    hist = {(r["environment"], r["table_name"]): r["row_count"]
            for r in store.read(spark, "row_count_history")
            .filter(F.col("execution_id") == "e1").collect()}
    assert hist == {("DEV", "t1"): 50, ("PROD", "t1"): 60, ("DEV", "t9"): 30}

    fresh_tables = {r["table_name"] for r in store.read(spark, "freshness")
                    .filter(F.col("execution_id") == "e1").collect()}
    assert fresh_tables == {"t1", "t9"}

    # database rollup spans carried + new tables
    db = {(r["environment"], r["database"]): r["total_tables"]
          for r in out["database_summary"].collect()}
    assert db[("DEV", "db1")] == 2          # t1 (carried) + t9 (new)

    # checkpoint keeps ALL marks → a third run is a full no-op
    out3 = run_checks_job(spark, specs2, "e1", RUN_DATE, store)
    assert out3["results"] == []


def test_thread_pool_submission_is_result_identical(spark, tmp_path):
    paths = []
    for i in range(4):
        p = str(tmp_path / f"tbl{i}")
        _write_table(spark, p, 20 + i)
        paths.append(p)
    specs = [TableSpec("DEV", "db1", f"t{i}", p, SCHEMA)
             for i, p in enumerate(paths)]

    def norm(results):
        return sorted((r["environment"], r["database"], r["table"],
                       r["test_name"], r["passed"]) for r in results)

    seq = run_checks_job(spark, specs, "e1", RUN_DATE,
                         AuditStore(str(tmp_path / "a1")))
    par = run_checks_job(spark, specs, "e1", RUN_DATE,
                         AuditStore(str(tmp_path / "a2")),
                         max_concurrent_tables=4)
    assert norm(seq["results"]) == norm(par["results"])
    assert norm(seq["results"])          # non-empty


def test_comparison_fails_when_dev_exceeds_prod(spark, tmp_path):
    dev = str(tmp_path / "dev_big")
    prod = str(tmp_path / "prod_small")
    _write_table(spark, dev, 80)
    _write_table(spark, prod, 40)
    specs = [TableSpec("DEV", "db1", "t2", dev, SCHEMA),
             TableSpec("PROD", "db1", "t2", prod, SCHEMA)]
    store = AuditStore(str(tmp_path / "audit"))
    out = run_checks_job(spark, specs, "e1", RUN_DATE, store)
    comp = [r for r in out["results"]
            if r["test_name"] == "row_count_comparison"][0]
    assert comp["passed"] is False
    assert "difference: 40" in comp["details"]


def test_stale_freshness_fails(spark, tmp_path):
    path = str(tmp_path / "stale")
    _write_table(spark, path, 20, fresh=False)
    specs = [TableSpec("DEV", "db1", "t3", path, SCHEMA)]
    store = AuditStore(str(tmp_path / "audit"))
    out = run_checks_job(spark, specs, "e1", RUN_DATE, store)
    fr = [r for r in out["results"]
          if r["test_name"] == "date_insertion_freshness_check"][0]
    assert fr["passed"] is False
    rows = store.read(spark, "freshness").collect()
    assert rows[0]["passed"] is False
    assert rows[0]["date_difference_days"] == -2


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_audit_frames_are_jvm_local_relations(spark, tmp_path, specs):
    """Driver-built result frames must not scan a Python RDD: an
    ``ExistingRDD`` leaf reruns a Python-worker stage on every action,
    i.e. on every audit write and rollup built from the frame. Checked
    on a first run and on a partial rerun that carries rows forward."""
    store = AuditStore(str(tmp_path / "audit"))
    first = run_checks_job(spark, specs, "e1", RUN_DATE, store)
    extra = str(tmp_path / "dev_t9")
    _write_table(spark, extra, 30)
    rerun = run_checks_job(
        spark, specs + [TableSpec("DEV", "db1", "t9", extra, SCHEMA)],
        "e1", RUN_DATE, store)
    for out in (first, rerun):
        for name in ("results_df", "table_summary", "database_summary",
                     "dimension_scores", "comparison"):
            plan = _plan(out[name])
            assert "ExistingRDD" not in plan, (name, plan)
            assert "LocalTableScan" in plan, (name, plan)
