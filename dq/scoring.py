"""Pass-rate scoring, urgency banding, and dimension/table/database rollups.

Reproduces the reference's metrics layer (``storage/postgres_storage.py``):
- table-level summary (:236-258): pass_rate = 100·passed/total (100 when no
  tests), status band from URGENCY thresholds with per-table overrides
  (``config/settings.py:164-188``), classifier (:518-538);
- database-level rollup (:262-274): a table counts as successful iff its
  status ∈ {PASS, LOW, MEDIUM}; database status uses DEFAULT thresholds;
- dimension scores (:326-400): per (env, db, table, dimension) pass/fail
  tallies and score.

Spark-first: the reference aggregates result dicts in Python loops; here
the results are a DataFrame and every rollup is a ``groupBy().agg()`` —
the banding is a chained ``F.when`` so it runs JVM-side at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dq.session import local_frame

DEFAULT_THRESHOLDS = {"critical": 50.0, "high": 70.0, "medium": 85.0, "low": 95.0}
TABLE_THRESHOLDS = {
    "tva_due": {"critical": 80.0, "high": 90.0, "medium": 95.0, "low": 98.0},
    "personnes": {"critical": 70.0, "high": 85.0, "medium": 92.0, "low": 97.0},
}
SUCCESS_STATUSES = ("PASS", "LOW", "MEDIUM")

RESULT_SCHEMA = T.StructType([
    T.StructField("environment", T.StringType()),
    T.StructField("database", T.StringType()),
    T.StructField("table", T.StringType()),
    T.StructField("partition", T.StringType()),
    T.StructField("test_name", T.StringType()),
    T.StructField("dimension", T.StringType()),
    T.StructField("passed", T.BooleanType()),
    T.StructField("details", T.StringType()),
])


def results_to_df(spark: SparkSession, results: list[dict]) -> DataFrame:
    rows = [tuple(r.get(f.name) for f in RESULT_SCHEMA.fields) for r in results]
    return local_frame(spark, rows, RESULT_SCHEMA)


def _band(score: Column, thresholds: dict[str, float]) -> Column:
    return (
        F.when(score < thresholds["critical"], F.lit("CRITICAL"))
        .when(score < thresholds["high"], F.lit("HIGH"))
        .when(score < thresholds["medium"], F.lit("MEDIUM"))
        .when(score < thresholds["low"], F.lit("LOW"))
        .otherwise(F.lit("PASS"))
    )


def _band_with_overrides(score: Column, table: Column) -> Column:
    expr = None
    for tname, thr in TABLE_THRESHOLDS.items():
        branch = _band(score, thr)
        expr = (F.when(table == tname, branch) if expr is None
                else expr.when(table == tname, branch))
    return expr.otherwise(_band(score, DEFAULT_THRESHOLDS))


def table_summary(results: DataFrame) -> DataFrame:
    score = F.when(F.col("total_tests") > 0,
                   F.col("passed_tests") / F.col("total_tests") * 100.0
                   ).otherwise(F.lit(100.0))
    return (
        results.groupBy("environment", "database", "table")
        .agg(F.count(F.lit(1)).alias("total_tests"),
             F.sum(F.col("passed").cast("long")).alias("passed_tests"))
        .withColumn("overall_score", score)
        .withColumn("status",
                    _band_with_overrides(F.col("overall_score"), F.col("table")))
    )


def database_summary(results: DataFrame) -> DataFrame:
    tables = table_summary(results)
    per_db_tables = (
        tables.groupBy("environment", "database")
        .agg(
            F.count(F.lit(1)).alias("total_tables"),
            F.sum(F.col("status").isin(*SUCCESS_STATUSES).cast("long"))
            .alias("successful_tables"),
        )
        .withColumn("failed_tables",
                    F.col("total_tables") - F.col("successful_tables"))
    )
    per_db_tests = (
        results.groupBy("environment", "database")
        .agg(F.count(F.lit(1)).alias("total_tests"),
             F.sum(F.col("passed").cast("long")).alias("passed_tests"))
    )
    score = F.when(F.col("total_tests") > 0,
                   F.col("passed_tests") / F.col("total_tests") * 100.0
                   ).otherwise(F.lit(100.0))
    return (
        per_db_tables.join(per_db_tests, ["environment", "database"])
        .withColumn("overall_score", score)
        .withColumn("status", _band(F.col("overall_score"), DEFAULT_THRESHOLDS))
    )


def test_type_stats(results: DataFrame) -> DataFrame:
    """A10 per-test-type tallies (reference ``utils/helpers.py:109-157``,
    also pdf_generator.py:195-210): total/passed/failed per test_name —
    the reference loops result dicts; one groupBy here."""
    return (
        results.groupBy("test_name")
        .agg(F.count(F.lit(1)).alias("total"),
             F.sum(F.col("passed").cast("long")).alias("passed"))
        .withColumn("failed", F.col("total") - F.col("passed"))
        .withColumn("pass_rate_x100",
                    F.floor(F.col("passed") * 10000 / F.col("total"))
                    .cast("bigint"))
    )


def dimension_scores(results: DataFrame) -> DataFrame:
    score = F.when(F.col("total_tests") > 0,
                   F.col("passed_tests") / F.col("total_tests") * 100.0
                   ).otherwise(F.lit(100.0))
    return (
        results.groupBy("environment", "database", "table", "dimension")
        .agg(F.count(F.lit(1)).alias("total_tests"),
             F.sum(F.col("passed").cast("long")).alias("passed_tests"))
        .withColumn("failed_tests",
                    F.col("total_tests") - F.col("passed_tests"))
        .withColumn("score", score)
    )
