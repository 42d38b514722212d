"""The query catalog: every operator as a (Spark callable, oracle SQL) pair.

This is the driver-facing inventory behind ``__spark_entry__.py``: one
entry per implemented operator family from SURVEY.md §2 plus the
training-data-pipeline operators (dedup families, similarity search, text
analysis). Each Spark callable takes ``(spark, sf_dir)`` and returns a
DataFrame; the oracle is ANSI SQL DuckDB runs over the same parquet.

Cross-engine exactness rules used throughout (so the driver's
order-insensitive value-hash matches bit-for-bit):
- double sums go through ``DECIMAL`` casts (exact accumulation, identical
  half-up rounding of the ~2-decimal synthetic values in both engines),
  then back to double (IEEE correctly-rounded, deterministic);
- averages are ``exact_decimal_sum / count`` evaluated in double — one
  deterministic division, no accumulation-order dependence;
- ratio thresholds are integer cross-multiplications, never float
  division;
- timestamps: the callables pin ``spark.sql.session.timeZone=UTC`` so
  parquet timestamps read identically to DuckDB's naive reading;
- clock-dependent checks take a FIXED run_date (the reference reads the
  wall clock, ``core/quality_checks.py:734-735`` — we inject, SURVEY §7.3).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dq import dedup, similarity, textstats
from dq.heuristics import RULE_NAMES, HeuristicConfig, with_heuristics
from dq.scrub import scrub_udf
from dq.session import local_frame

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

RUN_DATE = "2024-01-31"          # injected clock for freshness semantics

_SHIPPED: set[str] = set()


def ensure_dq_shipped(spark: SparkSession) -> None:
    """Make the ``dq`` package importable on executors regardless of the
    driver's cwd (broadcast model unpickling imports dq.models inside
    python workers). Zips the package once per app and registers it via
    ``addPyFile`` — the same mechanism a spark-submit --py-files
    deployment uses. Memo key is the applicationId (stable per context;
    ``id()`` could be reused after a context restart) and the zip is
    named by a content hash so stale archives are never re-shipped."""
    key = spark.sparkContext.applicationId
    if key in _SHIPPED:
        return
    import hashlib
    import os
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    members = []
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                members.append((full, rel))
    h = hashlib.sha256()
    for full, rel in members:
        h.update(rel.encode())
        with open(full, "rb") as f:
            h.update(f.read())
    zip_path = os.path.join("/tmp", f"dq_pyfiles_{h.hexdigest()[:16]}.zip")
    if not os.path.exists(zip_path):
        tmp = zip_path + f".{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for full, rel in members:
                zf.write(full, rel)
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(key)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, pinning the session confs the catalog
    semantics require.

    SESSION-MUTATION CONTRACT (deliberate, documented at the public
    entry points): every catalog query sets ``spark.sql.ansi.enabled=
    false`` (the reference's pandas semantics are non-ANSI — coercing
    casts, null on bad parse; Spark 4 defaults ANSI on) and
    ``session.timeZone=UTC`` (parquet timestamps must read identically
    to the DuckDB oracle), and these settings REMAIN on the session
    afterwards. Scoping them per-query is not possible with lazy
    DataFrames — the confs are read at action time, which the caller
    controls — so callers embedding catalog queries in an ANSI-dependent
    session must save/restore the two confs themselves.
    """
    ensure_dq_shipped(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dec(c, p=18, s=2):
    return F.col(c).cast(f"decimal({p},{s})")


# =====================================================================
# Table-rule engine queries (SURVEY §2.10 semantics over testdata tables)
# =====================================================================

def q_null_empty_profile(spark, sf_dir):
    """A2/A3/A4: per-column null + empty-string tallies in ONE agg pass
    (the reference rescans per check; we fuse — SURVEY §4)."""
    d = _t(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(F.col("text").isNull().cast("long")).alias("null_text"),
        F.sum((F.col("text").isNotNull() & (F.trim("text") == ""))
              .cast("long")).alias("empty_text"),
        F.sum(F.col("lang").isNull().cast("long")).alias("null_lang"),
        F.sum(F.col("source").isNull().cast("long")).alias("null_source"),
        F.sum(F.col("n_chars").isNull().cast("long")).alias("null_n_chars"),
        F.sum(F.col("text").isNotNull().cast("long")).alias("nonnull_text"),
    )


ORACLE_NULL_EMPTY = """
SELECT count(*) AS total_rows,
       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text,
       CAST(sum(CASE WHEN text IS NOT NULL AND trim(text, ' ') = '' THEN 1 ELSE 0 END) AS BIGINT) AS empty_text,
       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_lang,
       CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_source,
       CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_n_chars,
       CAST(sum(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nonnull_text
FROM documents
"""


def q_exact_dup_stats(spark, sf_dir):
    """A6 row-uniqueness at document grain: per-source total vs distinct."""
    d = _t(spark, sf_dir, "documents")
    return (dedup.exact_dup_stats(d, ["source"], "text")
            .orderBy("source"))


ORACLE_DUP_STATS = """
SELECT source,
       count(*) AS total_rows,
       count(DISTINCT text) AS distinct_texts,
       count(*) - count(DISTINCT text) AS duplicate_rows
FROM documents GROUP BY source
"""


def q_daily_row_counts(spark, sf_dir):
    """A1 row-count per (partition, type) — the per-partition loop of the
    reference (main.py:349-354) collapsed into one groupBy."""
    e = _t(spark, sf_dir, "events")
    return (e.groupBy(F.to_date("ts").alias("event_date"),
                      "event_type")
            .agg(F.count(F.lit(1)).alias("row_count")))


ORACLE_DAILY_COUNTS = """
SELECT CAST(ts AS DATE) AS event_date, event_type,
       count(*) AS row_count
FROM events GROUP BY 1, 2
"""


def q_freshness(spark, sf_dir):
    """A5/F2-F4 freshness: max(to_date(ts)) == run_date - 1, per type.

    F6: ``latest_ts_str`` is the reference's
    ``strftime('%Y-%m-%d %H:%M:%S')`` timestamp formatting
    (core/quality_checks.py:805-808) as distributed ``F.date_format``
    (session timeZone pinned UTC by ``_t``)."""
    e = _t(spark, sf_dir, "events")
    yesterday = F.date_sub(F.to_date(F.lit(RUN_DATE)), 1)
    return (e.groupBy("event_type")
            .agg(F.max(F.to_date("ts")).alias("latest_date"),
                 F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss")
                 .alias("latest_ts_str"))
            .withColumn("expected_date", yesterday)
            .withColumn("date_difference_days",
                        F.datediff("latest_date", "expected_date"))
            .withColumn("passed",
                        F.col("latest_date") == F.col("expected_date")))


ORACLE_FRESHNESS = f"""
SELECT event_type,
       max(CAST(ts AS DATE)) AS latest_date,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS latest_ts_str,
       CAST(DATE '{RUN_DATE}' - INTERVAL 1 DAY AS DATE) AS expected_date,
       datediff('day', CAST(DATE '{RUN_DATE}' - INTERVAL 1 DAY AS DATE),
                max(CAST(ts AS DATE))) AS date_difference_days,
       max(CAST(ts AS DATE)) = CAST(DATE '{RUN_DATE}' - INTERVAL 1 DAY AS DATE) AS passed
FROM events GROUP BY event_type
"""


def q_rowcount_trend(spark, sf_dir):
    """A7/W1-W3 dynamic threshold: last-10 daily counts per type →
    lag-increments → avg → min_rows = floor(latest + avg*(1-0.20)),
    clamped ≥1 (reference quality_checks.py:564-614)."""
    e = _t(spark, sf_dir, "events")
    daily = (e.groupBy("event_type", F.to_date("ts").alias("d"))
             .agg(F.count(F.lit(1)).alias("row_count")))
    w_recent = Window.partitionBy("event_type").orderBy(F.desc("d"))
    recent = (daily.withColumn("_rn", F.row_number().over(w_recent))
              .filter(F.col("_rn") <= 10))
    w_time = Window.partitionBy("event_type").orderBy("d")
    agg = (recent
           .withColumn("_inc",
                       F.col("row_count") - F.lag("row_count").over(w_time))
           .groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n_records"),
                F.sum("_inc").alias("inc_sum"),
                F.count("_inc").alias("inc_n"),
                F.max_by("row_count", F.col("d")).alias("latest_count")))
    avg_inc = F.col("inc_sum").cast("double") / F.col("inc_n")
    min_rows = F.greatest(
        F.floor(F.col("latest_count") + avg_inc * 0.8).cast("bigint"),
        F.lit(1).cast("bigint"))
    return (agg.withColumn("min_rows", min_rows)
            .select("event_type", "n_records", "latest_count",
                    "inc_sum", "min_rows"))


ORACLE_TREND = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS row_count
  FROM events GROUP BY 1, 2
), recent AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY d DESC) AS rn
  FROM daily QUALIFY rn <= 10
), incs AS (
  SELECT event_type, d, row_count,
         row_count - lag(row_count) OVER (PARTITION BY event_type ORDER BY d) AS inc
  FROM recent
), agg AS (
  SELECT event_type, count(*) AS n_records,
         CAST(sum(inc) AS BIGINT) AS inc_sum, count(inc) AS inc_n,
         max_by(row_count, d) AS latest_count
  FROM incs GROUP BY event_type
)
SELECT event_type, n_records, latest_count, inc_sum,
       greatest(CAST(floor(latest_count + (CAST(inc_sum AS DOUBLE)/inc_n) * 0.8) AS BIGINT),
                CAST(1 AS BIGINT)) AS min_rows
FROM agg
"""


def q_topk_recent(spark, sf_dir):
    """W1 top-N per key: 3 most recent events per user (deterministic
    tie-break on event_id)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"),
                                              F.desc("event_id"))
    return (e.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("user_id", "event_id", "rn"))


ORACLE_TOPK = """
SELECT user_id, event_id,
       row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
FROM events QUALIFY rn <= 3
"""


def q_env_compare(spark, sf_dir):
    """J1 DEV≤PROD row-count comparison (main.py:214-268 semantics:
    inner-join on key, skip zero counts, passed = dev <= prod).
    Environments are a deterministic split of events."""
    e = _t(spark, sf_dir, "events")
    tagged = e.withColumn(
        "environment",
        F.when(F.col("user_id") % 2 == 0, "DEV").otherwise("PROD"))
    counts = tagged.groupBy("environment", "event_type").count()
    dev = (counts.filter(F.col("environment") == "DEV")
           .select("event_type", F.col("count").alias("dev_count")))
    prod = (counts.filter(F.col("environment") == "PROD")
            .select("event_type", F.col("count").alias("prod_count")))
    return (dev.join(F.broadcast(prod), "event_type", "inner")
            .filter((F.col("dev_count") != 0) & (F.col("prod_count") != 0))
            .withColumn("difference", F.col("dev_count") - F.col("prod_count"))
            .withColumn("passed", F.col("dev_count") <= F.col("prod_count")))


ORACLE_ENV_COMPARE = """
WITH tagged AS (
  SELECT *, CASE WHEN user_id % 2 = 0 THEN 'DEV' ELSE 'PROD' END AS environment
  FROM events
), counts AS (
  SELECT environment, event_type, count(*) AS cnt FROM tagged GROUP BY 1, 2
)
SELECT d.event_type,
       d.cnt AS dev_count, p.cnt AS prod_count,
       d.cnt - p.cnt AS difference,
       d.cnt <= p.cnt AS passed
FROM counts d JOIN counts p
  ON d.event_type = p.event_type
 AND d.environment = 'DEV' AND p.environment = 'PROD'
WHERE d.cnt <> 0 AND p.cnt <> 0
"""


def q_summary_banding(spark, sf_dir):
    """A8 pass-rate scoring + urgency banding (postgres_storage.py:518-538
    bands) with integer-exact pass_rate_x100 = floor(passed*10000/total)."""
    li = _t(spark, sf_dir, "lineitem")
    agg = (li.groupBy("l_returnflag", "l_linestatus")
           .agg(F.count(F.lit(1)).alias("total_tests"),
                F.sum((F.col("l_discount") <= 0.05).cast("long"))
                .alias("passed_tests")))
    rate = F.floor(F.col("passed_tests") * 10000 / F.col("total_tests")) \
            .cast("bigint")
    band = (F.when(rate < 5000, "CRITICAL").when(rate < 7000, "HIGH")
            .when(rate < 8500, "MEDIUM").when(rate < 9500, "LOW")
            .otherwise("PASS"))
    return (agg.withColumn("pass_rate_x100", rate)
            .withColumn("status", band))


ORACLE_BANDING = """
WITH agg AS (
  SELECT l_returnflag, l_linestatus,
         count(*) AS total_tests,
         CAST(sum(CASE WHEN l_discount <= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS passed_tests
  FROM lineitem GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus, total_tests, passed_tests,
       CAST(floor(passed_tests * 10000 / total_tests) AS BIGINT) AS pass_rate_x100,
       CASE WHEN floor(passed_tests * 10000 / total_tests) < 5000 THEN 'CRITICAL'
            WHEN floor(passed_tests * 10000 / total_tests) < 7000 THEN 'HIGH'
            WHEN floor(passed_tests * 10000 / total_tests) < 8500 THEN 'MEDIUM'
            WHEN floor(passed_tests * 10000 / total_tests) < 9500 THEN 'LOW'
            ELSE 'PASS' END AS status
FROM agg
"""


def q_rollup_scores(spark, sf_dir):
    """A8 two-level table→database rollup, done natively with rollup()
    (the reference hand-codes the two levels, postgres_storage.py:262-274)."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
              .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (joined.rollup("r_name", "n_name")
            .agg(F.count(F.lit(1)).alias("suppliers"),
                 F.sum((F.col("s_acctbal") > 0).cast("long"))
                 .alias("positive_bal")))


ORACLE_ROLLUP = """
SELECT r_name, n_name, count(*) AS suppliers,
       CAST(sum(CASE WHEN s_acctbal > 0 THEN 1 ELSE 0 END) AS BIGINT) AS positive_bal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_customers_without_orders(spark, sf_dir):
    """Left-anti join (the checkpoint-resume primitive, SURVEY §2.3):
    customers with no orders since 2000-01-01, tallied per nation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    n = _t(spark, sf_dir, "nation")
    anti = c.join(o.select(F.col("o_custkey").alias("c_custkey")),
                  "c_custkey", "left_anti")
    return (anti.join(F.broadcast(n), anti.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("customers_no_orders")))


ORACLE_ANTI = """
SELECT n_name, count(*) AS customers_no_orders
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY n_name
"""


def q_table_checks(spark, sf_dir):
    """The reference's six-check contract (SURVEY §2.10) end-to-end over
    the documents table, one row per check. Expected schema deliberately
    includes the reference's mandatory ``date_insertion`` column (absent
    here) so presence/freshness FAIL while null/count/types/uniqueness
    PASS — both branches of every check exercised under the oracle."""
    import dq.rules as rules

    d = _t(spark, sf_dir, "documents")
    expected = {"doc_id": "bigint", "text": "string", "lang": "string",
                "source": "string", "n_chars": "bigint",
                "date_insertion": "timestamp"}
    results = rules.run_all_checks(
        d, "testdb", "documents", expected,
        run_date=dt.date.fromisoformat(RUN_DATE))
    return local_frame(
        spark,
        [(r["test_name"], r["passed"], r["dimension"]) for r in results],
        "test_name string, passed boolean, dimension string")


ORACLE_TABLE_CHECKS = """
WITH stats AS (
  SELECT count(*) AS total,
         count(doc_id) AS nn_doc_id,
         sum(CASE WHEN text IS NOT NULL AND trim(text, ' ') <> '' THEN 1 ELSE 0 END) AS good_text,
         sum(CASE WHEN lang IS NOT NULL AND trim(lang, ' ') <> '' THEN 1 ELSE 0 END) AS good_lang,
         sum(CASE WHEN source IS NOT NULL AND trim(source, ' ') <> '' THEN 1 ELSE 0 END) AS good_source,
         count(n_chars) AS nn_n_chars,
         count(DISTINCT (doc_id, text, lang, source, n_chars)) AS distinct_rows
  FROM documents
)
SELECT 'null_columns_check' AS test_name,
       (nn_doc_id > 0 AND good_text > 0 AND good_lang > 0
        AND good_source > 0 AND nn_n_chars > 0) AS passed,
       'completeness' AS dimension FROM stats
UNION ALL
SELECT 'row_count_check', total >= 2, 'completeness' FROM stats
UNION ALL
SELECT 'schema_presence_check', FALSE, 'consistency' FROM stats
UNION ALL
SELECT 'schema_types_check', TRUE, 'consistency' FROM stats
UNION ALL
SELECT 'date_insertion_freshness_check', FALSE, 'timeliness' FROM stats
UNION ALL
SELECT 'row_uniqueness_check', distinct_rows = total, 'uniqueness' FROM stats
"""


def q_test_type_stats(spark, sf_dir):
    """A10 per-test-type tallies (reference utils/helpers.py:109-157):
    groupBy(test_name) rollup over the six-check results — two table
    scopes (documents twice under different expected schemas) so totals
    exceed 1 per test."""
    import dq.rules as rules
    from dq.scoring import test_type_stats

    d = _t(spark, sf_dir, "documents")
    run_date = dt.date.fromisoformat(RUN_DATE)
    with_di = {"doc_id": "bigint", "text": "string", "lang": "string",
               "source": "string", "n_chars": "bigint",
               "date_insertion": "timestamp"}
    without_di = {"doc_id": "bigint", "text": "string", "lang": "string"}
    schema = "test_name string, passed boolean"
    frames = [
        local_frame(spark,
                    [(r["test_name"], r["passed"]) for r in
                     rules.run_all_checks(d, "testdb", scope, exp,
                                          run_date=run_date)],
                    schema)
        for scope, exp in [("documents", with_di),
                           ("documents2", without_di)]]
    # SO2 result-list merge (reference utils/helpers.py:159-172): the
    # per-scope result frames concatenate by column NAME, not position
    rdf = frames[0].unionByName(frames[1])
    return test_type_stats(rdf)


ORACLE_TEST_TYPE_STATS = f"""
WITH stats2 AS (
  SELECT count(*) AS total,
         count(doc_id) AS nn_doc_id,
         sum(CASE WHEN text IS NOT NULL AND trim(text, ' ') <> '' THEN 1 ELSE 0 END) AS good_text,
         sum(CASE WHEN lang IS NOT NULL AND trim(lang, ' ') <> '' THEN 1 ELSE 0 END) AS good_lang,
         sum(CASE WHEN source IS NOT NULL AND trim(source, ' ') <> '' THEN 1 ELSE 0 END) AS good_source,
         count(n_chars) AS nn_n_chars,
         count(DISTINCT (doc_id, text, lang, source, n_chars)) AS distinct_rows
  FROM documents
), checks AS (
  {ORACLE_TABLE_CHECKS}
  UNION ALL
  SELECT 'null_columns_check' AS test_name,
         (nn_doc_id > 0 AND good_text > 0 AND good_lang > 0
          AND good_source > 0 AND nn_n_chars > 0) AS passed,
         'completeness' AS dimension FROM stats2
  UNION ALL SELECT 'row_count_check', total >= 2, 'completeness' FROM stats2
  UNION ALL SELECT 'schema_presence_check', TRUE, 'consistency' FROM stats2
  UNION ALL SELECT 'schema_types_check', TRUE, 'consistency' FROM stats2
  UNION ALL SELECT 'date_insertion_freshness_check', FALSE, 'timeliness' FROM stats2
  UNION ALL
  SELECT 'row_uniqueness_check', distinct_rows = total, 'uniqueness' FROM stats2
)
SELECT test_name, count(*) AS total,
       CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS passed,
       CAST(count(*) - sum(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS failed,
       CAST(floor(sum(CASE WHEN passed THEN 1 ELSE 0 END) * 10000 / count(*)) AS BIGINT) AS pass_rate_x100
FROM checks GROUP BY test_name
"""


def q_dimension_scores(spark, sf_dir):
    """A9 dimension rollup (storage/postgres_storage.py:326-400 analog):
    per-dimension pass/fail tallies + integer-exact score over the
    six-check results of q_table_checks."""
    results = q_table_checks(spark, sf_dir)
    agg = (results.groupBy("dimension")
           .agg(F.count(F.lit(1)).alias("total_tests"),
                F.sum(F.col("passed").cast("long")).alias("passed_tests")))
    return (agg.withColumn("failed_tests",
                           F.col("total_tests") - F.col("passed_tests"))
            .withColumn("score_x100",
                        F.floor(F.col("passed_tests") * 10000
                                / F.col("total_tests")).cast("bigint")))


ORACLE_DIMENSION_SCORES = f"""
WITH checks AS ({ORACLE_TABLE_CHECKS}),
agg AS (
  SELECT dimension, count(*) AS total_tests,
         CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS passed_tests
  FROM checks GROUP BY dimension
)
SELECT dimension, total_tests, passed_tests,
       total_tests - passed_tests AS failed_tests,
       CAST(floor(passed_tests * 10000 / total_tests) AS BIGINT) AS score_x100
FROM agg
"""


# =====================================================================
# Analytics queries (join/agg coverage at TPC-H shape)
# =====================================================================

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: exact decimal accumulation, deterministic avgs."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
    qty = _dec("l_quantity")
    price = _dec("l_extendedprice")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    disc_price = price * (F.lit(1).cast("decimal(3,2)") - disc)
    charge = disc_price * (F.lit(1).cast("decimal(3,2)") + tax)
    agg = (li.groupBy("l_returnflag", "l_linestatus")
           .agg(F.sum(qty).alias("_sq"),
                F.sum(price).alias("_sp"),
                F.sum(disc_price).alias("_sdp"),
                F.sum(charge).alias("_sc"),
                F.sum(disc).alias("_sd"),
                F.count(F.lit(1)).alias("count_order")))
    cnt = F.col("count_order")
    return agg.select(
        "l_returnflag", "l_linestatus",
        F.col("_sq").cast("double").alias("sum_qty"),
        F.col("_sp").cast("double").alias("sum_base_price"),
        F.col("_sdp").cast("double").alias("sum_disc_price"),
        F.col("_sc").cast("double").alias("sum_charge"),
        (F.col("_sq").cast("double") / cnt).alias("avg_qty"),
        (F.col("_sp").cast("double") / cnt).alias("avg_price"),
        (F.col("_sd").cast("double") / cnt).alias("avg_disc"),
        "count_order")


ORACLE_PRICING = """
WITH agg AS (
  SELECT l_returnflag, l_linestatus,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS sdp,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
             * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS sc,
         sum(CAST(l_discount AS DECIMAL(4,2))) AS sd,
         count(*) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
  GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus,
       CAST(sq AS DOUBLE) AS sum_qty,
       CAST(sp AS DOUBLE) AS sum_base_price,
       CAST(sdp AS DOUBLE) AS sum_disc_price,
       CAST(sc AS DOUBLE) AS sum_charge,
       CAST(sq AS DOUBLE) / count_order AS avg_qty,
       CAST(sp AS DOUBLE) / count_order AS avg_price,
       CAST(sd AS DOUBLE) / count_order AS avg_disc,
       count_order
FROM agg
"""


def q_revenue_by_nation(spark, sf_dir):
    """4-way join with broadcast dims: revenue per region/nation."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (_dec("l_extendedprice")
           * (F.lit(1).cast("decimal(3,2)")
              - F.col("l_discount").cast("decimal(4,2)")))
    j = (li.join(o, li.l_orderkey == o.o_orderkey)
         .join(c, o.o_custkey == c.c_custkey)
         .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
         .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (j.groupBy("r_name", "n_name")
            .agg(F.sum(rev).alias("_rev"),
                 F.count(F.lit(1)).alias("line_count"))
            .select("r_name", "n_name",
                    F.col("_rev").cast("double").alias("revenue"),
                    "line_count"))


ORACLE_REVENUE = """
SELECT r_name, n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS revenue,
       count(*) AS line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2
"""


def q_hourly_windows(spark, sf_dir):
    """Tumbling 1-hour windows over events (batch analog of the
    streaming windowed agg): counts + distinct users + quantized sums."""
    e = _t(spark, sf_dir, "events")
    qval = F.floor(F.col("value") * 100).cast("bigint")
    return (e.groupBy(F.date_trunc("hour", "ts").alias("hour"),
                      "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.count_distinct("user_id").alias("n_users"),
                 F.sum(qval).alias("value_cents_sum")))


ORACLE_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents_sum
FROM events GROUP BY 1, 2
"""


def q_json_extract(spark, sf_dir):
    """Scalar-function coverage: JSON field extraction + aggregation."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (e.groupBy("event_type")
            .agg(F.sum(k).alias("k_sum"),
                 F.max(k).alias("k_max"),
                 F.count(F.lit(1)).alias("n")))


ORACLE_JSON = """
SELECT event_type,
       CAST(sum(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS BIGINT) AS k_sum,
       max(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS k_max,
       count(*) AS n
FROM events GROUP BY event_type
"""


# =====================================================================
# Text-analysis operators (training-data pipeline, over `documents`)
# =====================================================================

def q_doc_token_stats(spark, sf_dir):
    """Token counting + document fingerprinting (md5 of normalized text,
    cross-engine reproducible)."""
    d = _t(spark, sf_dir, "documents")
    d = textstats.with_text_stats(d, "text")
    return d.select("doc_id", "n_tokens", "n_distinct_tokens",
                    "n_chars_actual", "token_len_sum", "fingerprint")


ORACLE_TOKEN_STATS = """
WITH t AS (
  SELECT doc_id,
         CASE WHEN text IS NOT NULL AND trim(text, ' ') <> ''
              THEN regexp_split_to_array(trim(text, ' '), '[ \\t\\n\\x0b\\f\\r]+')
              ELSE [] END AS toks,
         text
  FROM documents
)
SELECT doc_id,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_distinct_tokens,
       coalesce(length(text), 0) AS n_chars_actual,
       CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS token_len_sum,
       md5(trim(lower(regexp_replace(coalesce(text, ''), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')), ' ')) AS fingerprint
FROM t
"""


def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary: top-100 tokens by total occurrences with
    document frequency — the explode→agg→total-order-top-k shape every
    tokenizer/vocab build runs at corpus scale. Tie-break is TOTAL
    (occurrences desc, token asc) so the cutoff row is engine-
    independent; empty tokens (leading/trailing-whitespace artifacts of
    the exact split semantics) are excluded on both sides."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id",
                    F.explode(textstats.tokens(F.col("text"))).alias("token"))
    return (toks.filter(F.col("token") != "")
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("occurrences"),
                 F.count_distinct("doc_id").alias("doc_freq"))
            .orderBy(F.col("occurrences").desc(), F.col("token"))
            .limit(100))


ORACLE_VOCAB = """
WITH t AS (
  SELECT doc_id,
         CASE WHEN text IS NOT NULL AND trim(text, ' ') <> ''
              THEN regexp_split_to_array(trim(text, ' '), '[ \\t\\n\\x0b\\f\\r]+')
              ELSE [] END AS toks
  FROM documents
), tok AS (
  SELECT doc_id, u.token
  FROM t, unnest(toks) AS u(token)
  WHERE u.token <> ''
)
SELECT token,
       count(*) AS occurrences,
       count(DISTINCT doc_id) AS doc_freq
FROM tok
GROUP BY token
ORDER BY occurrences DESC, token
LIMIT 100
"""


def q_quality_flag_summary(spark, sf_dir):
    """Quality scoring rollup: per-source counts passing each integer-
    exact quality gate (length / mean token length / distinct ratio)."""
    d = _t(spark, sf_dir, "documents")
    d = textstats.quality_flags(d, "text")
    return (d.groupBy("source")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.sum(F.col("q_min_tokens").cast("long")).alias("pass_min_tokens"),
                 F.sum(F.col("q_mean_token_len").cast("long")).alias("pass_mean_len"),
                 F.sum(F.col("q_distinct_ratio").cast("long")).alias("pass_distinct"),
                 F.sum("n_tokens").alias("total_tokens")))


ORACLE_QUALITY_FLAGS = """
WITH t AS (
  SELECT source,
         CASE WHEN text IS NOT NULL AND trim(text, ' ') <> ''
              THEN regexp_split_to_array(trim(text, ' '), '[ \\t\\n\\x0b\\f\\r]+')
              ELSE [] END AS toks
  FROM documents
), s AS (
  SELECT source, len(toks) AS n,
         coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS lensum,
         len(list_distinct(toks)) AS nd
  FROM t
)
SELECT source, count(*) AS docs,
       CAST(sum(CASE WHEN n >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS pass_min_tokens,
       CAST(sum(CASE WHEN lensum * 10 >= 30 * n AND lensum * 10 <= 120 * n AND n > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS pass_mean_len,
       CAST(sum(CASE WHEN nd * 100 >= 20 * n AND n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pass_distinct,
       CAST(sum(n) AS BIGINT) AS total_tokens
FROM s GROUP BY source
"""


def q_pii_scan(spark, sf_dir):
    """PII detection counts per source (regex plumbing; the corpus
    carries no planted PII so counts are honest zeros — the scrub
    byte-identity tests live in tests/test_scrub_models.py)."""
    d = _t(spark, sf_dir, "documents")
    email = F.regexp_count("text",
                           F.lit(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"))
    ipv4 = F.regexp_count("text",
                          F.lit(r"\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b"))
    digits = F.regexp_count("text", F.lit(r"[0-9]"))
    return (d.groupBy("source")
            .agg(F.sum(email).alias("email_hits"),
                 F.sum(ipv4).alias("ipv4_hits"),
                 F.sum(digits).alias("digit_chars"),
                 F.count(F.lit(1)).alias("docs")))


ORACLE_PII = """
SELECT source,
       CAST(sum(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))) AS BIGINT) AS email_hits,
       CAST(sum(len(regexp_extract_all(text, '\\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\b'))) AS BIGINT) AS ipv4_hits,
       CAST(sum(len(regexp_extract_all(text, '[0-9]'))) AS BIGINT) AS digit_chars,
       count(*) AS docs
FROM documents GROUP BY source
"""


# =====================================================================
# Dedup + similarity (training-data pipeline)
# =====================================================================

def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs (sim ≥ 1/3), integer-exact."""
    d = _t(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(d, "doc_id", "text", n=3,
                               min_num=1, min_den=3,
                               num_partitions=spark.sparkContext.defaultParallelism)


ORACLE_JACCARD = """
WITH t AS (
  SELECT doc_id,
         CASE WHEN text IS NOT NULL AND trim(text, ' ') <> ''
              THEN regexp_split_to_array(trim(text, ' '), '[ \\t\\n\\x0b\\f\\r]+')
              ELSE [] END AS toks
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(toks, i, i + 2), chr(9247)) AS s
  FROM t, unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS g(i)
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS intersection
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, intersection,
       sa.sz AS size_a, sb.sz AS size_b,
       sa.sz + sb.sz - intersection AS union_size
FROM inter JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
WHERE intersection * 3 >= (sa.sz + sb.sz - intersection) * 1
"""


def q_ngram_jaccard_hashed(spark, sf_dir):
    """The 100-TB Jaccard variant: identical semantics but the inverted
    index exchanges ``xxhash64(shingle)`` longs instead of shingle
    strings (~3x less shuffle volume; see dq/dedup.py hash_postings).
    Gated against the SAME string-shingle oracle as ngram_jaccard_pairs:
    results are bit-identical unless two distinct corpus shingles
    collide in 64 bits (P ≈ U²/2⁶⁵ — never on any real fixture), which
    is exactly the claim worth gating."""
    d = _t(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(d, "doc_id", "text", n=3,
                               min_num=1, min_den=3,
                               num_partitions=spark.sparkContext.defaultParallelism,
                               hash_postings=True)


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: the exact Jaccard pair graph (sim ≥ 1/3,
    same params as ngram_jaccard_pairs) closed under transitivity via
    :func:`dq.dedup.connected_components` — an iterative min-label
    propagation whose DataFrame loop (join + map-side-combined min agg
    per sweep, lineage truncated per sweep) is mirrored exactly by a
    DuckDB recursive CTE: cluster_id = min doc_id reachable in the pair
    graph. Output: one row per clustered doc (singletons excluded) with
    its cluster representative and cluster size."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(
        d, "doc_id", "text", n=3, min_num=1, min_den=3,
        num_partitions=spark.sparkContext.defaultParallelism)
    cc = dedup.connected_components(pairs)
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "cluster_id") \
             .select("doc_id", "cluster_id", "cluster_size")


# Same shingle/pair CTEs as ORACLE_JACCARD; the recursive `reach` term
# computes, for every clustered doc, the full set of ids reachable in
# the (symmetrized) pair graph — min(reach) IS the propagated min label.
# The WITH-prefix is shared by ORACLE_CLUSTERS and
# ORACLE_NEAR_DEDUP_KEEP, which append different final SELECTs.
_CLUSTERS_CTE_PREFIX = """
WITH RECURSIVE t AS (
  SELECT doc_id,
         CASE WHEN text IS NOT NULL AND trim(text, ' ') <> ''
              THEN regexp_split_to_array(trim(text, ' '), '[ \\t\\n\\x0b\\f\\r]+')
              ELSE [] END AS toks
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(toks, i, i + 2), chr(9247)) AS s
  FROM t, unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS g(i)
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS intersection
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b
  FROM inter JOIN sizes sa ON sa.doc_id = id_a
             JOIN sizes sb ON sb.doc_id = id_b
  WHERE intersection * 3 >= (sa.sz + sb.sz - intersection) * 1
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach(v, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.v = e.dst
), comp AS (
  SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v
)
"""

ORACLE_CLUSTERS = _CLUSTERS_CTE_PREFIX + """
SELECT c.doc_id, c.cluster_id, s.cluster_size
FROM comp c JOIN (SELECT cluster_id, count(*) AS cluster_size
                  FROM comp GROUP BY cluster_id) s USING (cluster_id)
"""


def q_near_dedup_keep(spark, sf_dir):
    """The full near-dedup POLICY end-to-end: pair graph → clusters →
    drop every non-representative member (:func:`dq.dedup.
    drop_near_duplicates` left-anti join) → per-source survivor counts.
    What a training-data pipeline actually ships; the oracle replays
    the same closure with the recursive CTE and a NOT EXISTS anti-join
    (NOT IN would diverge from left_anti on a NULL id)."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(
        d, "doc_id", "text", n=3, min_num=1, min_den=3,
        num_partitions=spark.sparkContext.defaultParallelism)
    kept = dedup.drop_near_duplicates(d, pairs, id_col="doc_id")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("kept_docs"))


ORACLE_NEAR_DEDUP_KEEP = _CLUSTERS_CTE_PREFIX + """
SELECT d.source, count(*) AS kept_docs
FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM comp
                  WHERE comp.doc_id = d.doc_id
                    AND comp.doc_id <> comp.cluster_id)
GROUP BY d.source
"""


def q_minhash_lsh_pairs(spark, sf_dir):
    """MinHash(64)+LSH(16 bands) candidate pairs. The signature math is
    md5-derived (Carter-Wegman h1 + i*h2 mod 2^64, dq/dedup.py), so the
    EXACT candidate-pair set and per-pair est_jaccard reproduce in
    DuckDB SQL via md5_number_upper/lower — a full oracle for an
    'approximate' operator (the approximation is vs true Jaccard, not
    vs the spec)."""
    d = _t(spark, sf_dir, "documents")
    return (dedup.minhash_lsh_pairs(d, "doc_id", "text",
                                    num_hashes=64, bands=16, n=3,
                                    num_partitions=spark.sparkContext.defaultParallelism)
            .select("id_a", "id_b", "est_jaccard"))


# md5_number_upper = first 8 digest bytes little-endian = the Python
# mirror's h1; md5_number_lower = last 8 = h2 (verified empirically).
ORACLE_MINHASH = """
WITH t AS (
  SELECT doc_id,
         CASE WHEN text IS NOT NULL AND trim(text, ' ') <> ''
              THEN regexp_split_to_array(trim(text, ' '), '[ \\t\\n\\x0b\\f\\r]+')
              ELSE [] END AS toks
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(toks, i, i + 2), chr(9247)) AS s
  FROM t, unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS g(i)
), hashes AS (
  SELECT doc_id,
         CAST(md5_number_upper(s) AS HUGEINT) AS h1,
         CAST(md5_number_lower(s) AS HUGEINT) AS h2
  FROM sh
), sigs AS (
  SELECT doc_id, i,
         min(CAST((h1 + i * h2) % 18446744073709551616 AS UBIGINT)) AS sig
  FROM hashes, unnest(generate_series(0, 63)) AS g(i)
  GROUP BY doc_id, i
), bandkeys AS (
  SELECT doc_id, i // 4 AS band, list(sig ORDER BY i) AS key
  FROM sigs GROUP BY doc_id, i // 4
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bandkeys a JOIN bandkeys b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT p.id_a, p.id_b,
       sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) / 64.0 AS est_jaccard
FROM pairs p
JOIN sigs sa ON sa.doc_id = p.id_a
JOIN sigs sb ON sb.doc_id = p.id_b AND sb.i = sa.i
GROUP BY 1, 2
"""


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup candidates (Hamming ≤ 3, pigeonhole banding).
    Fingerprints are md5-derived (per-token first-8-digest-bytes bit
    votes, dq/dedup.py) → the exact pair set + Hamming distances
    reproduce in DuckDB SQL."""
    d = _t(spark, sf_dir, "documents")
    return dedup.simhash_pairs(d, "doc_id", "text", max_hamming=3,
                               num_partitions=spark.sparkContext.defaultParallelism)


def _simhash_oracle_sql() -> str:
    # fingerprint weight-k bit votes come from digest byte (7 - k//8),
    # bit (k%8): the Python mirror unpacks MSB-first and views the packed
    # bytes big-endian, while md5_number_upper is the first 8 digest
    # bytes little-endian — shift 8*(7 - k//8) + k%8 converts.
    bit_terms = ",\n         ".join(
        f"CASE WHEN 2 * sum(CAST((u >> {8 * (7 - k // 8) + k % 8}) & 1 AS BIGINT)) "
        f"> count(*) THEN CAST({1 << k} AS HUGEINT) ELSE 0 END AS b{k}"
        for k in range(64))
    fp_sum = " + ".join(f"b{k}" for k in range(64))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text, ' '), '[ \\t\\n\\x0b\\f\\r]+')) AS tok
  FROM documents
  WHERE text IS NOT NULL AND trim(text, ' ') <> ''
), h AS (
  SELECT doc_id, md5_number_upper(tok) AS u FROM toks
), votes AS (
  SELECT doc_id,
         {bit_terms}
  FROM h GROUP BY doc_id
), fps AS (
  SELECT doc_id, CAST(({fp_sum}) AS UBIGINT) AS ufp FROM votes
), keyed AS (
  SELECT doc_id, ufp, c, CAST((ufp >> (c * 16)) & 65535 AS INT) AS cv
  FROM fps, unnest([0, 1, 2, 3]) AS g(c)
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.ufp AS ua, b.ufp AS ub
  FROM keyed a JOIN keyed b
    ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(ua, ub)) AS INT) AS hamming
FROM pairs
WHERE bit_count(xor(ua, ub)) <= 3
"""


ORACLE_SIMHASH = _simhash_oracle_sql()


_SYMBOL_SQL = "'#@^~|<>*={}[]$%&\\+_'"
_STOPWORD_SQL = ", ".join(
    f"'{w}'" for w in
    ["the", "and", "of", "to", "in", "a", "is", "that", "it", "was",
     "for", "on", "are", "as", "with", "his", "they", "at", "be", "this",
     "have", "from", "or", "one", "had", "by", "word", "but", "not", "what",
     "all", "were", "we", "when", "your", "can", "said", "there", "use", "an"])


def q_heuristic_rule_summary(spark, sf_dir):
    """N3 Gopher/C4 heuristic rules (dq/heuristics.py Column exprs) at
    DEFAULT config, tallied per source — the flagship pipeline's
    heuristic stage under an exact SQL oracle (model rules stay
    rows-only in quality_filter_pipeline)."""
    d = _t(spark, sf_dir, "documents")
    d = with_heuristics(d, "text")
    aggs = [F.sum(F.col(r).cast("long")).alias(f"pass_{r}")
            for r in RULE_NAMES]
    return (d.groupBy("source")
            .agg(F.count(F.lit(1)).alias("docs"), *aggs))


ORACLE_HEURISTICS = f"""
WITH t AS (
  -- mirror the Spark side exactly: lowercase ONCE on the trimmed text
  -- before tokenizing (token lengths are measured on the lowercased
  -- form by definition — relevant for case-folds that change length)
  SELECT source, text,
         CASE WHEN text IS NOT NULL AND trim(text, ' ') <> ''
              THEN regexp_split_to_array(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+')
              ELSE [] END AS toks
  FROM documents
), s AS (
  SELECT source,
         (text IS NOT NULL AND trim(text, ' ') <> '') AS has_text,
         len(toks) AS n,
         coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS lensum,
         CASE WHEN text IS NOT NULL
              THEN length(text) - length(translate(text, {_SYMBOL_SQL}, ''))
              ELSE 0 END AS symcount,
         len(list_filter(list_transform(toks,
                 x -> regexp_replace(lower(x), '[^\\p{{L}}\\p{{N}}]', '', 'g')),
             x -> x IN ({_STOPWORD_SQL}))) AS stopcount,
         len(list_distinct(list_transform(toks,
                 x -> regexp_replace(lower(x), '[^\\p{{L}}\\p{{N}}]', '', 'g')))) AS ndistinct,
         len(list_filter(toks, x -> regexp_matches(x, '[\\p{{L}}]'))) AS alphacount
  FROM t
), r AS (
  SELECT source,
         (has_text AND n > 0) AS gate,
         n, lensum, symcount, stopcount, ndistinct, alphacount,
         CASE WHEN n > 0 THEN lensum / n ELSE 0.0 END AS meanlen,
         symcount / greatest(n, 1) AS symratio,
         CASE WHEN n > 0 THEN stopcount / n ELSE 0.0 END AS stopfrac,
         CASE WHEN n > 0 THEN ndistinct / n ELSE 0.0 END AS distratio,
         CASE WHEN n > 0 THEN alphacount / n ELSE 0.0 END AS alphafrac
  FROM s
)
SELECT source, count(*) AS docs,
       CAST(sum(CASE WHEN gate THEN 1 ELSE 0 END) AS BIGINT) AS pass_rule_non_empty,
       CAST(sum(CASE WHEN gate AND n >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS pass_rule_min_words,
       CAST(sum(CASE WHEN gate AND n <= 100000 THEN 1 ELSE 0 END) AS BIGINT) AS pass_rule_max_words,
       CAST(sum(CASE WHEN gate AND meanlen >= 3.0 AND meanlen <= 12.0 THEN 1 ELSE 0 END) AS BIGINT) AS pass_rule_mean_word_len,
       CAST(sum(CASE WHEN gate AND symratio <= 0.10 THEN 1 ELSE 0 END) AS BIGINT) AS pass_rule_symbol_ratio,
       CAST(sum(CASE WHEN gate AND stopfrac >= 0.06 THEN 1 ELSE 0 END) AS BIGINT) AS pass_rule_stopword_frac,
       CAST(sum(CASE WHEN gate AND distratio >= 0.20 THEN 1 ELSE 0 END) AS BIGINT) AS pass_rule_distinct_ratio,
       CAST(sum(CASE WHEN gate AND alphafrac >= 0.80 THEN 1 ELSE 0 END) AS BIGINT) AS pass_rule_alpha_frac
FROM r GROUP BY source
"""


def q_embedding_topk(spark, sf_dir):
    """Brute-force cosine top-5 per query (query set = vec_id < 10)."""
    e = _t(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism, "vec_id")
    queries = (e.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = similarity.brute_force_topk(e, queries, k=5)
    return out.select("query_id", "vec_id",
                      F.round("cos_sim", 6).alias("cos_sim_r6"), "rank")


ORACLE_EMB_TOPK = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id, embedding AS cv FROM embeddings
), pairs AS (
  SELECT q.query_id, c.vec_id,
         list_sum(list_transform(range(1, len(cv) + 1),
             i -> CAST(cv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
         AS cos_sim
  FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id
)
SELECT query_id, vec_id, round(cos_sim, 6) AS cos_sim_r6,
       row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
FROM pairs QUALIFY rank <= 5
"""


def q_embedding_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH bucketed top-k (scale path) — approximate vs true
    top-k, but EXACTLY specified: the seeded plane matrix is embedded as
    SQL literals in the oracle, which reproduces the same sign-bit
    signatures, band collisions, and ranked cosines. Sign-bit stability
    across engines holds because every |dot(vec, plane)| in the corpus
    clears a margin ~10^8x the summation-order ulp error (asserted in
    tests/test_dedup_similarity.py). Recall vs brute force additionally
    asserted in tests."""
    e = _t(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism, "vec_id")
    queries = (e.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = similarity.lsh_topk(e, queries, k=5, n_planes=16, bands=8, dim=64)
    return out.select("query_id", "vec_id",
                      F.round("cos_sim", 6).alias("cos_sim_r6"), "rank")


def _lsh_oracle_sql(n_planes: int, bands: int, dim: int = 64,
                    seed: int = 7, k: int = 5) -> str:
    """Exact SQL mirror of the hyperplane-LSH top-k: plane literals →
    sign-bit signatures → banded chunk collision → candidate cosines →
    per-query rank. repr() of each float is the shortest round-trip
    form, so DuckDB parses bit-identical doubles."""
    planes = similarity.hyperplanes(dim, n_planes, seed)
    width = n_planes // bands
    mask = (1 << width) - 1
    rows = ",\n".join(
        "({}, [{}])".format(p, ", ".join(repr(v) for v in vec))
        for p, vec in enumerate(planes))
    return f"""
WITH planes(p, pv) AS (VALUES
{rows}
), e AS (
  SELECT vec_id, embedding FROM embeddings
), sigs AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN list_sum(list_transform(range(1, {dim} + 1),
                    i -> CAST(embedding[i] AS DOUBLE) * pv[i])) >= 0
              THEN CAST(1 AS HUGEINT) << p ELSE 0 END) AS UBIGINT) AS sig
  FROM e CROSS JOIN planes GROUP BY vec_id
), keyed AS (
  SELECT vec_id, c, CAST((sig >> (c * {width})) & {mask} AS INT) AS cv
  FROM sigs, unnest(generate_series(0, {bands - 1})) AS g(c)
), cand AS (
  SELECT DISTINCT kq.vec_id AS query_id, kc.vec_id AS vec_id
  FROM keyed kq JOIN keyed kc ON kq.c = kc.c AND kq.cv = kc.cv
  WHERE kq.vec_id < 10 AND kc.vec_id <> kq.vec_id
), scored AS (
  SELECT cand.query_id, cand.vec_id,
         list_sum(list_transform(range(1, len(c.embedding) + 1),
             i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(c.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(q.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
         AS cos_sim
  FROM cand JOIN e q ON q.vec_id = cand.query_id
            JOIN e c ON c.vec_id = cand.vec_id
)
SELECT query_id, vec_id, round(cos_sim, 6) AS cos_sim_r6,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, vec_id) AS rank
FROM scored QUALIFY rank <= {k}
"""


ORACLE_LSH_TOPK = _lsh_oracle_sql(n_planes=16, bands=8)
ORACLE_INDEX_TOPK = _lsh_oracle_sql(n_planes=32, bands=4)


NEAR_DUP_THRESHOLD = 0.4      # sf0.01 margin |cos-th| ≥ 5e-4 (tested)
_EMB_COUNT_CACHE: dict[str, int] = {}   # sf_dir → embeddings row count


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate PAIRS (corpus vs itself) via the
    same hyperplane banding as the top-k queries — the embedding leg of
    the dedup family, oracle-gated: plane literals reproduce the
    banded candidate set exactly, and the 0.4 threshold clears every
    fixture candidate cosine by ≫ f64 summation-order ulp (margin
    asserted in tests), so the pair set and round(cos,6) match
    bit-for-bit.

    Band width is AUTO-SIZED to the corpus
    (:func:`dq.similarity.near_dup_band_params`): bucket count grows
    with ``count()`` so expected per-vector candidate work stays
    constant from the gate fixture to a 100-TB corpus — no slice, no
    demo-width fan-out (the round-3 weak spot). The ``count()`` is
    parquet-metadata-cheap, runs ONCE per (process, sf_dir) — cached so
    repeated bench reps time the near-dup work, not a sizing job
    (ADVICE r4) — and only picks a power-of-2 bucket count.
    The fixed oracle string is generated at the driver-gate corpus
    size (``_GATE_EMBEDDINGS_N`` — sf0.01), the one place the driver
    compares values; ``scripts/parity.py`` regenerates it for any
    other corpus size (ADVICE r4)."""
    e = _t(spark, sf_dir, "embeddings")
    n = _EMB_COUNT_CACHE.get(str(sf_dir))
    if n is None:
        n = e.count()
        _EMB_COUNT_CACHE[str(sf_dir)] = n
    n_planes, bands = similarity.near_dup_band_params(n)
    out = similarity.embedding_near_dup_pairs(
        e, threshold=NEAR_DUP_THRESHOLD, n_planes=n_planes, bands=bands)
    return out.select("id_a", "id_b",
                      F.round("cos_sim", 6).alias("cos_sim_r6"))


def _near_dup_oracle_sql(n_planes: int = 16, bands: int = 4,
                         dim: int = 64, seed: int = 7,
                         threshold: float = NEAR_DUP_THRESHOLD) -> str:
    """Pairs analog of :func:`_lsh_oracle_sql`: banded self-join on the
    sign-bit chunk keys, id_a < id_b, cosine ≥ threshold."""
    planes = similarity.hyperplanes(dim, n_planes, seed)
    width = n_planes // bands
    mask = (1 << width) - 1
    rows = ",\n".join(
        "({}, [{}])".format(p, ", ".join(repr(v) for v in vec))
        for p, vec in enumerate(planes))
    return f"""
WITH planes(p, pv) AS (VALUES
{rows}
), e AS (
  SELECT vec_id, embedding FROM embeddings
), sigs AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN list_sum(list_transform(range(1, {dim} + 1),
                    i -> CAST(embedding[i] AS DOUBLE) * pv[i])) >= 0
              THEN CAST(1 AS HUGEINT) << p ELSE 0 END) AS UBIGINT) AS sig
  FROM e CROSS JOIN planes GROUP BY vec_id
), keyed AS (
  SELECT vec_id, c, CAST((sig >> (c * {width})) & {mask} AS INT) AS cv
  FROM sigs, unnest(generate_series(0, {bands - 1})) AS g(c)
), cand AS (
  SELECT DISTINCT ka.vec_id AS id_a, kb.vec_id AS id_b
  FROM keyed ka JOIN keyed kb ON ka.c = kb.c AND ka.cv = kb.cv
  WHERE ka.vec_id < kb.vec_id
), scored AS (
  SELECT cand.id_a, cand.id_b,
         list_sum(list_transform(range(1, len(a.embedding) + 1),
             i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(a.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(b.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
         AS cos_sim
  FROM cand JOIN e a ON a.vec_id = cand.id_a
            JOIN e b ON b.vec_id = cand.id_b
)
SELECT id_a, id_b, round(cos_sim, 6) AS cos_sim_r6
FROM scored WHERE cos_sim >= {threshold!r}
"""


# The driver-gate corpus (sf0.01 embeddings.parquet) has exactly this
# many vectors; the oracle's plane literals must be generated at the
# same auto-sized width the Spark query picks there (20 planes / 4
# bands → 32 buckets per band at 500 vectors).
_GATE_EMBEDDINGS_N = 500
ORACLE_NEAR_DUP = _near_dup_oracle_sql(
    *similarity.near_dup_band_params(_GATE_EMBEDDINGS_N))


# =====================================================================
# North-rule flagship: the full quality-filter pipeline over documents
# =====================================================================

def _documents_as_webpages(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.concat(F.lit("doc://"), F.col("source"), F.lit("/"),
                 F.col("doc_id").cast("string")).alias("url"),
        (F.lit("2024-01-15 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("doc_id"))).alias("warc_ts"),
        F.encode(F.coalesce("text", F.lit("")), "UTF-8").alias("html"),
        "text",
        "lang",
        "doc_id", "source")


def _emb_fingerprint(sf_dir):
    """Cache key fingerprinting the embeddings DATA (file names/sizes/
    mtimes), not just the path — regenerated fixtures invalidate a
    cached index instead of silently serving stale neighbors."""
    import hashlib as _h
    import os

    src = f"{sf_dir}/embeddings.parquet"
    h = _h.sha1(sf_dir.encode())
    if os.path.isdir(src):
        for fn in sorted(os.listdir(src)):
            st = os.stat(os.path.join(src, fn))
            h.update(f"{fn}:{st.st_size}:{st.st_mtime_ns}".encode())
    elif os.path.exists(src):
        st = os.stat(src)
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _build_index_once(path, builder):
    """Build into a temp dir + atomic rename: a concurrent builder
    either wins the rename or reads the winner's complete index."""
    import os

    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    tmp = f"{path}.build.{os.getpid()}"
    builder(tmp)
    try:
        os.rename(tmp, path)
    except OSError:               # lost the race — winner's index is whole
        import shutil
        shutil.rmtree(tmp, ignore_errors=True)


def q_embedding_index_topk(spark, sf_dir):
    """ANN over a persisted multi-table LSH index: bucketed-parquet
    build (once per sf_dir) + partition-pruned query — the IVF-style
    scale path where query I/O is the collision buckets, not the
    corpus. Results are identical to scan-time LSH at the same params
    (asserted in tests), and exactly mirrored by the driver's SQL
    oracle via plane literals (see q_embedding_lsh_topk — same margin
    argument)."""
    import os

    e = _t(spark, sf_dir, "embeddings")
    path = os.path.join("/tmp", f"dq_lsh_index_{_emb_fingerprint(sf_dir)}")
    _build_index_once(path, lambda tmp: similarity.build_lsh_index(
        e, tmp, n_planes=32, bands=4, dim=64))
    queries = (e.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = similarity.lsh_index_topk(spark, path, queries, k=5,
                                    n_planes=32, bands=4, dim=64)
    return out.select("query_id", "vec_id",
                      F.round("cos_sim", 6).alias("cos_sim_r6"), "rank")


# IVF parameters shared by the Spark query and the oracle generator —
# one source of truth, since the oracle embeds the trained centroids
# as SQL literals and any drift in these means different centroids.
IVF_PARAMS = {"n_centroids": 16, "n_iter": 8, "seed": 7,
              "max_train": 262_144}
IVF_NPROBE = 4


def q_embedding_ivf_topk(spark, sf_dir):
    """ANN over a persisted IVF (k-means inverted-file) index — the
    data-adaptive alternative to hyperplane LSH (dq/ivf.py module
    docstring has the trade): centroids trained on an id-ordered
    bounded sample (deterministic numpy Lloyd), corpus assigned
    map-side, parquet partitioned by list_id, queries pruned to their
    nprobe probe lists. The DuckDB oracle re-derives assignment, probe
    sets, and ranked cosines from the SAME centroids embedded as SQL
    literals (``ivf_oracle_sql`` trains them via the pyarrow twin of
    the Spark trainer — bit-identical by the determinism contract in
    dq/ivf.py; assignment/probe argmax margins are asserted in
    tests/test_dedup_similarity.py the way the LSH sign margins are)."""
    import os

    from dq import ivf

    e = _t(spark, sf_dir, "embeddings")
    path = os.path.join("/tmp", f"dq_ivf_index_{_emb_fingerprint(sf_dir)}")
    _build_index_once(path, lambda tmp: ivf.build_ivf_index(
        e, tmp, **IVF_PARAMS))
    queries = (e.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = ivf.ivf_topk(spark, path, queries, k=5, nprobe=IVF_NPROBE)
    return out.select("query_id", "vec_id",
                      F.round("cos_sim", 6).alias("cos_sim_r6"), "rank")


def ivf_oracle_sql(sf_dir: str, k: int = 5) -> str:
    """Exact SQL mirror of ``q_embedding_ivf_topk``, generated at
    comparison time because the centroids depend on the DATA (unlike
    the seeded plane literals): train the same centroids from the same
    id-ordered sample via the Spark-free pyarrow path, embed them as
    literals, and re-derive list assignment (argmax dot, ties to lower
    centroid id), per-query probe sets (top-nprobe by the same order),
    candidates (corpus vec's list ∈ query's probe set), and ranked
    cosines. repr() floats round-trip bit-identically into DuckDB."""
    from dq import ivf

    cents = ivf.train_centroids_from_parquet(
        f"{sf_dir}/embeddings.parquet", **IVF_PARAMS)
    dim = cents.shape[1]
    rows = ",\n".join(
        "({}, [{}])".format(c, ", ".join(repr(v) for v in vec))
        for c, vec in enumerate(cents.tolist()))
    return f"""
WITH cents(cid, cv) AS (VALUES
{rows}
), e AS (
  SELECT vec_id, embedding FROM embeddings
), dots AS (
  SELECT e.vec_id, cents.cid,
         list_sum(list_transform(range(1, {dim} + 1),
             i -> CAST(embedding[i] AS DOUBLE) * cv[i])) AS dot
  FROM e CROSS JOIN cents
), ranked AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dot DESC, cid) AS rn
  FROM dots
), assign AS (
  SELECT vec_id, cid AS list_id FROM ranked WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, cid AS list_id FROM ranked
  WHERE vec_id < 10 AND rn <= {IVF_NPROBE}
), cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assign a USING (list_id)
  WHERE a.vec_id <> p.query_id
), scored AS (
  SELECT cand.query_id, cand.vec_id,
         list_sum(list_transform(range(1, len(c.embedding) + 1),
             i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(c.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(q.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
         AS cos_sim
  FROM cand JOIN e q ON q.vec_id = cand.query_id
            JOIN e c ON c.vec_id = cand.vec_id
)
SELECT query_id, vec_id, round(cos_sim, 6) AS cos_sim_r6,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, vec_id) AS rank
FROM scored QUALIFY rank <= {k}
"""


# The flagship's heuristic thresholds, shared by ``flagship_scored`` and
# ``q_pipeline_rules_only`` (ORACLE_PIPELINE_RULES spells them as SQL).
FLAGSHIP_HEURISTICS = HeuristicConfig(min_words=30, min_stopword_frac=0.0,
                                      min_mean_word_len=2.0)


def flagship_scored(spark, sf_dir):
    """The flagship's scored frame (``score_pages`` at the flagship
    PipelineConfig) — shared by ``q_quality_filter_pipeline`` and the
    goldens regression test (tests/test_pipeline.py), which pins
    per-source quantized model-score aggregates off this exact
    config."""
    from dq.pipeline import PipelineConfig, score_pages

    pages = _documents_as_webpages(spark, sf_dir)
    cfg = PipelineConfig(accept_langs=("en",),
                         heuristics=FLAGSHIP_HEURISTICS)
    return score_pages(spark, pages, cfg)


def q_quality_filter_pipeline(spark, sf_dir):
    """End-to-end flagship: heuristics (Column exprs) + langid +
    perplexity (broadcast-model pandas UDFs) + exact dedup + scrub →
    per-(source, keep) tallies. Model-scored — no SQL oracle (rows-only
    check); keep/drop F1 vs an independent pandas oracle is asserted in
    tests/test_pipeline.py, and the per-(source, rule) tallies plus
    quantized score sums are pinned by committed goldens
    (tests/goldens/) so any model change that shifts verdicts or
    scores fails loudly."""
    from dq.pipeline import ALL_RULES

    scored = flagship_scored(spark, sf_dir)
    aggs = [F.sum(F.col(r).cast("long")).alias(f"pass_{r}")
            for r in ALL_RULES]
    return (scored.groupBy("source")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.sum(F.col("keep").cast("long")).alias("kept"),
                 *aggs)
            .withColumn("dropped", F.col("docs") - F.col("kept")))


def q_pipeline_rules_only(spark, sf_dir):
    """The EXACT composed pipeline plan (``score_pages`` + scrub) with
    the model rules disabled — the oracle gate for the flagship's
    composition. ``enable_model_rules=False`` keeps every projection,
    the heuristics Arrow stage, and the dedup keeper exchange identical
    to ``q_quality_filter_pipeline`` (same HeuristicConfig); only the
    langid/perplexity UDFs are replaced by unconditional passes, so
    keep = heuristics ∧ not_dup and every ingredient has an exact SQL
    mirror: heuristic rules (ORACLE_HEURISTICS semantics at this
    config), the keep-first-by-url dedup (min(url) per text), and the
    scrubbed-text fingerprints (scrub is the identity on this corpus —
    proven separately by scrubbed_fingerprints — so the md5 tallies pin
    the scrub stage's byte-round-trip inside the composition too)."""
    from dq.pipeline import PipelineConfig, score_pages

    pages = _documents_as_webpages(spark, sf_dir)
    cfg = PipelineConfig(heuristics=FLAGSHIP_HEURISTICS,
                         enable_model_rules=False)
    scored = score_pages(spark, pages, cfg)
    scored = scored.withColumn(
        "text_scrubbed", scrub_udf(F.when(F.col("keep"), F.col("text"))))
    fp_hex = F.md5(F.encode(F.col("text_scrubbed"), "UTF-8"))
    fp_num = F.conv(F.substring(fp_hex, 1, 8), 16, 10).cast("long")
    gated_rules = RULE_NAMES + ["rule_not_dup"]
    aggs = [F.sum(F.col(r).cast("long")).alias(f"pass_{r}")
            for r in gated_rules]
    return (scored.groupBy("source")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.sum(F.col("keep").cast("long")).alias("kept"),
                 *aggs,
                 F.min(fp_hex).alias("scrub_fp_min"),
                 F.max(fp_hex).alias("scrub_fp_max"),
                 F.sum(fp_num).alias("scrub_fp_sum")))


# Same CTE skeleton as ORACLE_HEURISTICS but at FLAGSHIP_HEURISTICS
# (min_words=30, min_stopword_frac=0.0, min_mean_word_len=2.0), extended
# with the dedup keeper window (min(url) per exact text — the SQL mirror
# of the dq.dedup.exact_dedup keeper join on text_signature, exact up to
# the documented U²/2⁶⁵ collision bound) and md5 fingerprint tallies of
# the kept (scrub-identity) texts.
ORACLE_PIPELINE_RULES = f"""
WITH pages AS (
  SELECT 'doc://' || source || '/' || CAST(doc_id AS VARCHAR) AS url,
         source, text
  FROM documents
), t AS (
  SELECT url, source, text,
         (text IS NOT NULL AND trim(text, ' ') <> '') AS has_text,
         CASE WHEN text IS NOT NULL AND trim(text, ' ') <> ''
              THEN regexp_split_to_array(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+')
              ELSE [] END AS toks
  FROM pages
), s AS (
  SELECT url, source, text, has_text,
         len(toks) AS n,
         coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS lensum,
         CASE WHEN text IS NOT NULL
              THEN length(text) - length(translate(text, {_SYMBOL_SQL}, ''))
              ELSE 0 END AS symcount,
         len(list_filter(list_transform(toks,
                 x -> regexp_replace(lower(x), '[^\\p{{L}}\\p{{N}}]', '', 'g')),
             x -> x IN ({_STOPWORD_SQL}))) AS stopcount,
         len(list_distinct(list_transform(toks,
                 x -> regexp_replace(lower(x), '[^\\p{{L}}\\p{{N}}]', '', 'g')))) AS ndistinct,
         len(list_filter(toks, x -> regexp_matches(x, '[\\p{{L}}]'))) AS alphacount
  FROM t
), r AS (
  SELECT url, source, text, has_text,
         (has_text AND n > 0) AS gate, n,
         CASE WHEN n > 0 THEN lensum / n ELSE 0.0 END AS meanlen,
         symcount / greatest(n, 1) AS symratio,
         CASE WHEN n > 0 THEN stopcount / n ELSE 0.0 END AS stopfrac,
         CASE WHEN n > 0 THEN ndistinct / n ELSE 0.0 END AS distratio,
         CASE WHEN n > 0 THEN alphacount / n ELSE 0.0 END AS alphafrac,
         min(url) OVER (
             -- blank-text rows key by url, salted with a NUL byte so the
             -- key can never collide with a real text value (mirrors the
             -- Spark side's xxhash64(url,'nulltext') domain separation:
             -- there, blank rows hash a DIFFERENT tuple than text rows;
             -- here, a text that exactly equals some url must not merge
             -- the two groups)
             PARTITION BY CASE WHEN has_text THEN text
                               ELSE url || chr(0) END
         ) AS keep_url
  FROM s
), v AS (
  SELECT source, text,
         gate AS rule_non_empty,
         (gate AND n >= 30) AS rule_min_words,
         (gate AND n <= 100000) AS rule_max_words,
         (gate AND meanlen >= 2.0 AND meanlen <= 12.0) AS rule_mean_word_len,
         (gate AND symratio <= 0.10) AS rule_symbol_ratio,
         (gate AND stopfrac >= 0.0) AS rule_stopword_frac,
         (gate AND distratio >= 0.20) AS rule_distinct_ratio,
         (gate AND alphafrac >= 0.80) AS rule_alpha_frac,
         (url = keep_url) AS rule_not_dup
  FROM r
), k AS (
  SELECT source, text,
         rule_non_empty, rule_min_words, rule_max_words,
         rule_mean_word_len, rule_symbol_ratio, rule_stopword_frac,
         rule_distinct_ratio, rule_alpha_frac, rule_not_dup,
         (rule_non_empty AND rule_min_words AND rule_max_words
          AND rule_mean_word_len AND rule_symbol_ratio
          AND rule_stopword_frac AND rule_distinct_ratio
          AND rule_alpha_frac AND rule_not_dup) AS keep
  FROM v
)
SELECT source, count(*) AS docs,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept,
       CAST(sum(CASE WHEN rule_non_empty THEN 1 ELSE 0 END) AS BIGINT) AS pass_rule_non_empty,
       CAST(sum(CASE WHEN rule_min_words THEN 1 ELSE 0 END) AS BIGINT) AS pass_rule_min_words,
       CAST(sum(CASE WHEN rule_max_words THEN 1 ELSE 0 END) AS BIGINT) AS pass_rule_max_words,
       CAST(sum(CASE WHEN rule_mean_word_len THEN 1 ELSE 0 END) AS BIGINT) AS pass_rule_mean_word_len,
       CAST(sum(CASE WHEN rule_symbol_ratio THEN 1 ELSE 0 END) AS BIGINT) AS pass_rule_symbol_ratio,
       CAST(sum(CASE WHEN rule_stopword_frac THEN 1 ELSE 0 END) AS BIGINT) AS pass_rule_stopword_frac,
       CAST(sum(CASE WHEN rule_distinct_ratio THEN 1 ELSE 0 END) AS BIGINT) AS pass_rule_distinct_ratio,
       CAST(sum(CASE WHEN rule_alpha_frac THEN 1 ELSE 0 END) AS BIGINT) AS pass_rule_alpha_frac,
       CAST(sum(CASE WHEN rule_not_dup THEN 1 ELSE 0 END) AS BIGINT) AS pass_rule_not_dup,
       min(CASE WHEN keep THEN md5(text) END) AS scrub_fp_min,
       max(CASE WHEN keep THEN md5(text) END) AS scrub_fp_max,
       CAST(sum(CASE WHEN keep
                THEN CAST('0x' || substring(md5(text), 1, 8) AS BIGINT)
                END) AS BIGINT) AS scrub_fp_sum
FROM k GROUP BY source
"""


def q_multimodal_decode(spark, sf_dir):
    """Multimodal plumbing end-to-end: synthetic media table (binary
    payload + typed meta struct) → mapInPandas decode (deterministic
    stub) → per-bucket aggregation. Fully oracle-checked: the synthetic
    payload is ``'MEDIA' || sha256hex(id)`` and the fake decoder derives
    width/height from md5 of (salt + first 64 payload bytes)
    (dq/multimodal.py:_stable_u32) — both reproducible in DuckDB, so the
    exact per-bucket aggregates mirror in SQL (determinism across
    partitionings is additionally asserted in tests/test_multimodal.py)."""
    from dq import multimodal as mm
    media = mm.synthetic_media(spark, 1000)
    decoded = mm.decode_images(media)
    return (decoded
            .withColumn("aspect_bucket",
                        (F.col("img.width") * 4 / F.col("img.height"))
                        .cast("int"))
            .groupBy("aspect_bucket")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("meta.n_bytes").alias("total_bytes"),
                 F.min("img.width").alias("min_width"),
                 F.max("img.height").alias("max_height")))


# The fake decoder's u32 is the FIRST FOUR md5 digest bytes big-endian;
# DuckDB's md5_number_upper is the first EIGHT digest bytes
# little-endian — the byte-swap of the low 4 bytes converts.
_MM_SWAP = ("((({u} & 255) << 24) | ((({u} >> 8) & 255) << 16) "
            "| ((({u} >> 16) & 255) << 8) | (({u} >> 24) & 255))")

ORACLE_MULTIMODAL = f"""
WITH m AS (
  SELECT substring('MEDIA' || sha256(CAST(i AS VARCHAR)), 1, 64) AS prefix,
         5 + 64 AS n_bytes
  FROM range(0, 1000) t(i)
), u AS (
  SELECT md5_number_upper('w' || prefix) AS uw,
         md5_number_upper('h' || prefix) AS uh,
         n_bytes
  FROM m
), dims AS (
  SELECT CAST(64 + {_MM_SWAP.format(u='uw')} % 1984 AS INT) AS w,
         CAST(64 + {_MM_SWAP.format(u='uh')} % 1984 AS INT) AS h,
         n_bytes
  FROM u
)
SELECT CAST(floor(w * 4.0 / h) AS INT) AS aspect_bucket,
       count(*) AS n_images,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       min(w) AS min_width,
       max(h) AS max_height
FROM dims GROUP BY 1
"""


def q_image_decode(spark, sf_dir):
    """REAL image codec round-trip, oracle-checked: synthetic binary-PPM
    payloads (dq/multimodal.py:synthesize_ppm — dims are pure arithmetic
    of the id) → mapInPandas decode through the real P6 parser
    (decode_ppm_meta: header parse + raster-length validation) →
    per-width aggregation. The DuckDB oracle recomputes width/height
    from the id arithmetic and total bytes from the P6 layout
    (13-byte header + 3*w*h raster), so a decoder that misparses any
    payload hash-mismatches."""
    from dq import multimodal as mm
    media = mm.synthetic_images(spark, 1000)
    decoded = mm.decode_images(media, decoder=mm.decode_ppm_meta)
    return (decoded
            .groupBy(F.col("img.width").alias("width"))
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("meta.n_bytes").alias("total_bytes"),
                 F.min("img.height").alias("min_height"),
                 F.max("img.height").alias("max_height")))


ORACLE_IMAGE_DECODE = """
WITH dims AS (
  SELECT CAST(16 + i % 24 AS INT) AS w,
         CAST(16 + (i * 7) % 24 AS INT) AS h
  FROM range(0, 1000) t(i)
)
SELECT w AS width,
       count(*) AS n_images,
       CAST(sum(13 + 3 * w * h) AS BIGINT) AS total_bytes,
       min(h) AS min_height,
       max(h) AS max_height
FROM dims GROUP BY 1
"""


def q_png_decode(spark, sf_dir):
    """REAL stdlib PNG codec round-trip, oracle-checked at PIXEL level:
    synthetic PNGs (dq/multimodal.py:synthesize_png — zlib IDAT, CRC'd
    chunks, scanline filter cycling 0..4 by row) → mapInPandas decode
    through the full five-filter reconstruction (decode_png_meta) →
    per-width aggregation INCLUDING the decoded pixel-byte sum. The
    DuckDB oracle recomputes width/height AND the pixel sum from the
    id-arithmetic gradient, so a decoder that misreconstructs any
    filter row (not just a header misparse) hash-mismatches."""
    from dq import multimodal as mm
    media = mm.synthetic_pngs(spark, 600)
    decoded = mm.decode_pngs(media)
    return (decoded
            .groupBy(F.col("png.width").alias("width"))
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.min("png.height").alias("min_height"),
                 F.max("png.height").alias("max_height"),
                 F.sum("png.pixel_sum").alias("pixel_sum")))


ORACLE_PNG_DECODE = """
WITH dims AS (
  SELECT i, 12 + (i * 5) % 29 AS w, 12 + (i * 11) % 29 AS h
  FROM range(0, 600) t(i)
), px AS (
  SELECT d.i, d.w, d.h, (r.r * 31 + c.c * 17 + d.i) AS base
  FROM dims d
  JOIN range(0, 40) r(r) ON r.r < d.h
  JOIN range(0, 40) c(c) ON c.c < d.w
), sums AS (
  SELECT i, w, h,
         SUM(base % 256 + (base * 3 + 1) % 256 + (base * 5 + 2) % 256)
         AS ps
  FROM px GROUP BY i, w, h
)
SELECT CAST(w AS INT) AS width,
       count(*) AS n_images,
       CAST(min(h) AS INT) AS min_height,
       CAST(max(h) AS INT) AS max_height,
       CAST(sum(ps) AS BIGINT) AS pixel_sum
FROM sums GROUP BY 1
"""


def q_image_resize(spark, sf_dir):
    """REAL nearest-neighbor resize, oracle-checked per MEDIA at PIXEL
    level: synthetic binary PPMs (dims pure arithmetic of the id) →
    mapInPandas decode + gather at ``src = (dst * src) // dst`` + P6
    re-encode (dq/multimodal.py:resize_ppm) → one row per image with
    the resized payload length and resized pixel-byte sum. The DuckDB
    oracle replays the same floor-mapped gather over the id-arithmetic
    gradient, so a resize that misindexes a single source pixel
    hash-mismatches. Target 7x5 is deliberately a non-divisor of every
    source dim, exercising the floor mapping off the trivial path."""
    from dq import multimodal as mm
    media = mm.synthetic_images(spark, 800)
    resized = mm.resize_images(media, 7, 5)
    return resized.select(
        "media_id",
        F.col("resized_w"), F.col("resized_h"),
        F.length("resized").cast("int").alias("n_bytes"),
        F.col("resized_pixel_sum"))


ORACLE_IMAGE_RESIZE = """
WITH dims AS (
  SELECT i, 16 + i % 24 AS w, 16 + (i * 7) % 24 AS h
  FROM range(0, 800) t(i)
), px AS (
  SELECT d.i,
         ((y.y * d.h) // 5) * 31 + ((x.x * d.w) // 7) * 17 + d.i AS base
  FROM dims d, range(0, 5) y(y), range(0, 7) x(x)
)
SELECT CAST(i AS BIGINT) AS media_id,
       CAST(7 AS INT) AS resized_w,
       CAST(5 AS INT) AS resized_h,
       CAST(11 + 3 * 7 * 5 AS INT) AS n_bytes,
       CAST(SUM(base % 256 + (base * 3 + 1) % 256 + (base * 5 + 2) % 256)
            AS BIGINT) AS resized_pixel_sum
FROM px GROUP BY 1
"""


def q_contamination_scan(spark, sf_dir):
    """Benchmark decontamination (dq/contamination.py): every 17th doc
    plays the held-out eval set; the rest is the training corpus. A
    corpus doc is contaminated when any of its distinct 3-token
    shingles appears in the benchmark's shingle set (the synthetic
    corpus' dup pool guarantees real positives). Benchmark gram set is
    broadcast — the corpus side's only exchange is the map-side-combined
    per-doc hit count."""
    from dq.contamination import flag_contaminated
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 17 == 0)
    corpus = d.filter(F.col("doc_id") % 17 != 0)
    return flag_contaminated(corpus, bench, n=3)


ORACLE_CONTAMINATION = """
WITH t AS (
  SELECT doc_id,
         CASE WHEN text IS NOT NULL AND trim(text, ' ') <> ''
              THEN regexp_split_to_array(trim(text, ' '), '[ \\t\\n\\x0b\\f\\r]+')
              ELSE [] END AS toks
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(toks, i, i + 2), chr(9247)) AS s
  FROM t, unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS g(i)
), bench AS (
  SELECT DISTINCT s FROM sh WHERE doc_id % 17 = 0
), h AS (
  SELECT c.doc_id, count(*) AS hits
  FROM sh c JOIN bench USING (s)
  WHERE c.doc_id % 17 <> 0
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
       coalesce(h.hits, 0) >= 1 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0) d
LEFT JOIN h USING (doc_id)
"""


def q_scrubbed_fingerprints(spark, sf_dir):
    """Scrub stage plumbing: per-doc md5 fingerprint of scrubbed text.
    The corpus has no planted PII, so scrub is the identity mapping and
    the md5 equals the oracle's md5 of the raw text — which makes the
    pandas-UDF round-trip byte-exactness itself the thing under test."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.encode(scrub_udf(F.col("text")), "UTF-8"))
        .alias("scrubbed_md5"))


ORACLE_SCRUB_FP = """
SELECT doc_id, md5(text) AS scrubbed_md5 FROM documents
"""


# =====================================================================
# Registry
# =====================================================================

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "null_empty_profile": q_null_empty_profile,
    "exact_dup_stats": q_exact_dup_stats,
    "daily_row_counts": q_daily_row_counts,
    "freshness": q_freshness,
    "rowcount_trend": q_rowcount_trend,
    "topk_recent": q_topk_recent,
    "env_compare": q_env_compare,
    "table_checks": q_table_checks,
    "test_type_stats": q_test_type_stats,
    "dimension_scores": q_dimension_scores,
    "summary_banding": q_summary_banding,
    "rollup_scores": q_rollup_scores,
    "customers_without_orders": q_customers_without_orders,
    "pricing_summary": q_pricing_summary,
    "revenue_by_nation": q_revenue_by_nation,
    "hourly_windows": q_hourly_windows,
    "json_extract": q_json_extract,
    "doc_token_stats": q_doc_token_stats,
    "quality_flag_summary": q_quality_flag_summary,
    "vocab_topk": q_vocab_topk,
    "pii_scan": q_pii_scan,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "ngram_jaccard_hashed": q_ngram_jaccard_hashed,
    "dedup_clusters": q_dedup_clusters,
    "near_dedup_keep": q_near_dedup_keep,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "simhash_pairs": q_simhash_pairs,
    "heuristic_rule_summary": q_heuristic_rule_summary,
    "embedding_topk": q_embedding_topk,
    "embedding_lsh_topk": q_embedding_lsh_topk,
    "embedding_index_topk": q_embedding_index_topk,
    "embedding_ivf_topk": q_embedding_ivf_topk,
    "embedding_near_dup": q_embedding_near_dup,
    "quality_filter_pipeline": q_quality_filter_pipeline,
    "pipeline_rules_only": q_pipeline_rules_only,
    "multimodal_decode": q_multimodal_decode,
    "image_decode": q_image_decode,
    "png_decode": q_png_decode,
    "image_resize": q_image_resize,
    "contamination_scan": q_contamination_scan,
    "scrubbed_fingerprints": q_scrubbed_fingerprints,
}

# Known residual cross-engine divergences (probed, documented, cannot
# occur in the driver corpus):
# - DuckDB lower() uses simple Unicode case mapping; Spark/Java and
#   Python apply the special rules for U+0130 İ → 'i'+U+0307 (two code
#   points) and Greek word-final Σ → ς. RE2 has no lookahead, so the
#   context-sensitive sigma rule is not cheaply expressible in the SQL
#   mirror. Affects oracles that lower() text (fingerprint, heuristics)
#   ONLY for documents containing İ or word-final Σ.
# - Engine-verified equal on the rest of the probe set (ı ſ K ẞ Σ ǅ Ⅷ
#   ﬀ ß, emoji): simple mappings agree, as do length() code-point
#   counts. trim()/\s differences are FIXED above (explicit ' ' charset
#   and [ \t\n\x0b\f\r] class); the three-way tokenizer fuzz in
#   tests/test_dedup_similarity.py guards them.
ORACLES: dict[str, str] = {
    "null_empty_profile": ORACLE_NULL_EMPTY,
    "exact_dup_stats": ORACLE_DUP_STATS,
    "daily_row_counts": ORACLE_DAILY_COUNTS,
    "freshness": ORACLE_FRESHNESS,
    "rowcount_trend": ORACLE_TREND,
    "topk_recent": ORACLE_TOPK,
    "env_compare": ORACLE_ENV_COMPARE,
    "table_checks": ORACLE_TABLE_CHECKS,
    "test_type_stats": ORACLE_TEST_TYPE_STATS,
    "dimension_scores": ORACLE_DIMENSION_SCORES,
    "summary_banding": ORACLE_BANDING,
    "rollup_scores": ORACLE_ROLLUP,
    "customers_without_orders": ORACLE_ANTI,
    "pricing_summary": ORACLE_PRICING,
    "revenue_by_nation": ORACLE_REVENUE,
    "hourly_windows": ORACLE_HOURLY,
    "json_extract": ORACLE_JSON,
    "doc_token_stats": ORACLE_TOKEN_STATS,
    "quality_flag_summary": ORACLE_QUALITY_FLAGS,
    "vocab_topk": ORACLE_VOCAB,
    "pii_scan": ORACLE_PII,
    "ngram_jaccard_pairs": ORACLE_JACCARD,
    "ngram_jaccard_hashed": ORACLE_JACCARD,
    "dedup_clusters": ORACLE_CLUSTERS,
    "near_dedup_keep": ORACLE_NEAR_DEDUP_KEEP,
    "minhash_lsh_pairs": ORACLE_MINHASH,
    "simhash_pairs": ORACLE_SIMHASH,
    "heuristic_rule_summary": ORACLE_HEURISTICS,
    "embedding_topk": ORACLE_EMB_TOPK,
    "embedding_lsh_topk": ORACLE_LSH_TOPK,
    "embedding_index_topk": ORACLE_INDEX_TOPK,
    "embedding_near_dup": ORACLE_NEAR_DUP,
    "pipeline_rules_only": ORACLE_PIPELINE_RULES,
    "multimodal_decode": ORACLE_MULTIMODAL,
    "image_decode": ORACLE_IMAGE_DECODE,
    "png_decode": ORACLE_PNG_DECODE,
    "image_resize": ORACLE_IMAGE_RESIZE,
    "contamination_scan": ORACLE_CONTAMINATION,
    "scrubbed_fingerprints": ORACLE_SCRUB_FP,
    # quality_filter_pipeline (model-scored): rows-only, documented in
    # its docstring.
    # embedding_ivf_topk: oracle is DATA-dependent (trained centroid
    # literals) — generated at comparison time by ivf_oracle_sql(sf_dir);
    # __spark_entry__.oracle_sql() adds it for the driver's sf0.01 gate,
    # scripts/parity.py regenerates it for whatever sf_dir it runs at.
}
