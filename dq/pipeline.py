"""The end-to-end web-text quality-filter pipeline, and the one scoring
core that the streaming path (``dq.streaming``) shares.

North-rule composition (BASELINE.json): heuristic rules (native Column
expressions) + langid + perplexity (broadcast-model pandas UDFs) + exact
dedup (hash-signature keeper join) → keep/drop = conjunction of rule
verdicts (mirroring the reference's "passed = all checks passed",
``main.py:188-208``) → compiled-regex PII scrub of kept docs → audit
writes (per-url lineage, per-partition rule metrics, row-count history)
→ checkpoint mark-done.

Each scoring decision is defined once and called by batch and streaming
alike:
- :func:`score_rules` — heuristics, then the model scores, then the
  model verdicts (or unconditional passes with model rules disabled);
- ``dq.dedup.text_signature`` / ``dq.dedup.exact_dedup`` — the exact
  dedup signature and its keeper exchange;
- ``dq.heuristics.all_pass`` — the keep conjunction;
- :func:`rule_tallies` — the ``pass__<rule>``/``total``/``kept``
  aggregates behind ``rule_metrics`` and the streaming window metrics.

Scale shape (the plan at 100 TB):
- one scan of the input; heuristics + UDF scoring are row-local (no
  shuffle), Arrow-batched where Python is required;
- exactly ONE data-wide exchange: the dedup keeper join on the 64-bit
  text signature — a map-side-combined aggregate + join back, so a
  skewed duplicate key is AQE-splittable and a small keeper table
  broadcasts (null/empty texts get a per-row signature so they cannot
  form a skewed hash bucket either way);
- lineage/metrics/docs derive from one persisted scored frame —
  MEMORY_AND_DISK locally, a staged Iceberg table on a cluster;
- resume anti-join and metrics aggregations touch only tiny frames.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from dq.audit import AuditStore
from dq.checkpoint import completed_partitions, filter_unprocessed, mark_done
from dq.dedup import exact_dedup
from dq.heuristics import RULE_NAMES, HeuristicConfig, all_pass, with_heuristics
from dq.models import DEFAULT_PPL_THRESHOLD, make_langid_udf, make_perplexity_udf
from dq.scrub import scrub_udf


@dataclass(frozen=True)
class PipelineConfig:
    accept_langs: tuple[str, ...] = ("en",)
    ppl_threshold: float = DEFAULT_PPL_THRESHOLD
    heuristics: HeuristicConfig = field(default_factory=HeuristicConfig)
    repartition: int | None = None       # explicit pre-stage balancing
    # False = skip the langid/perplexity UDF stage and pass rule_lang /
    # rule_ppl unconditionally, so keep = heuristics ∧ not_dup. The plan
    # is otherwise IDENTICAL (same projections, same dedup exchange) —
    # this is what lets the composed pipeline be gated against an exact
    # SQL oracle (model scores have no SQL mirror; the model rules are
    # F1-gated separately in tests/test_pipeline.py).
    enable_model_rules: bool = True


# the row-local rules score_rules adds, then the keeper verdict
ROW_RULES = RULE_NAMES + ["rule_lang", "rule_ppl"]
ALL_RULES = ROW_RULES + ["rule_not_dup"]


def score_rules(spark: SparkSession, df: DataFrame,
                cfg: PipelineConfig) -> DataFrame:
    """Row-local scoring: heuristic stats + verdicts, then ``lang_pred``
    / ``ppl``, then ``rule_lang`` / ``rule_ppl`` — every ROW_RULES
    column, no shuffle. Works on batch and streaming frames alike."""
    df = with_heuristics(df, "text", cfg.heuristics)
    if cfg.enable_model_rules:
        langid = make_langid_udf(spark)
        ppl = make_perplexity_udf(spark)
        df = df.withColumns({
            "lang_pred": langid(F.col("text")),
            "ppl": ppl(F.col("text")),
        })
        return df.withColumns({
            "rule_lang": F.col("lang_pred").isin(*cfg.accept_langs),
            "rule_ppl": F.col("ppl") <= F.lit(cfg.ppl_threshold),
        })
    # rules-only mode: same schema (lineage/metrics melt over ALL_RULES
    # unchanged), model verdicts pass unconditionally
    return df.withColumns({
        "lang_pred": F.lit(None).cast("string"),
        "ppl": F.lit(None).cast("double"),
        "rule_lang": F.lit(True),
        "rule_ppl": F.lit(True),
    })


def rule_tallies(rules: list[str]) -> list[Column]:
    """Aggregates of a rule-metrics row: ``pass__<rule>`` per rule, then
    ``total`` and ``kept``."""
    return ([F.sum(F.col(r).cast("long")).alias(f"pass__{r}") for r in rules]
            + [F.count(F.lit(1)).alias("total"),
               F.sum(F.col("keep").cast("long")).alias("kept")])


def score_pages(spark: SparkSession, pages: DataFrame,
                cfg: PipelineConfig | None = None) -> DataFrame:
    """Wide scored frame: input cols + stats + rule_* booleans + keep.

    The raw ``html`` binary is projected away first: no downstream stage
    reads it, and carrying a multi-KB binary through every projection,
    the Arrow UDF boundary, and the dedup shuffle dominates runtime
    (measured 3-10x on the full pipeline) and shuffle volume at scale.

    ``rule_not_dup`` keeps the first url of every exact-duplicate text
    (``dq.dedup.exact_dedup``). PRECONDITION: urls are unique non-null
    (Common-Crawl-style inputs guarantee one row per capture url).
    """
    cfg = cfg or PipelineConfig()
    df = pages.drop("html")
    df = df.withColumn("partition_value", F.to_date("warc_ts"))
    if cfg.repartition:
        from dq.skew import salted_repartition
        df = salted_repartition(df, cfg.repartition)
    df = exact_dedup(score_rules(spark, df, cfg), "text", "url")
    df = (df.withColumn("rule_not_dup", ~F.col("is_dup_copy"))
            .drop("is_dup_copy"))
    return df.withColumn("keep", all_pass(ALL_RULES))


def melt_lineage(scored: DataFrame, execution_id: str) -> DataFrame:
    """Per-(url, rule) lineage rows (FIXTURES.md §4 lineage schema)."""
    stack_expr = "stack({}, {}) as (rule_name, passed)".format(
        len(ALL_RULES),
        ", ".join(f"'{r}', {r}" for r in ALL_RULES))
    return scored.select(
        F.lit(execution_id).alias("execution_id"),
        "url", "partition_value",
        F.expr(stack_expr),
        "keep",
    )


def rule_metrics(scored: DataFrame, execution_id: str) -> DataFrame:
    """Per-(partition, rule) pass/fail tallies — ONE aggregation pass over
    the wide frame (no melt shuffle): sums of boolean casts per rule, then
    unpivot of the already-tiny aggregate."""
    wide = scored.groupBy("partition_value").agg(*rule_tallies(ALL_RULES))
    stack_expr = "stack({}, {}) as (rule_name, passed_count)".format(
        len(ALL_RULES),
        ", ".join(f"'{r}', pass__{r}" for r in ALL_RULES))
    return wide.select(
        F.lit(execution_id).alias("execution_id"),
        "partition_value", F.expr(stack_expr), "total", "kept",
    ).withColumn("failed_count", F.col("total") - F.col("passed_count"))


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    execution_id: str,
    run_ts: dt.datetime,
    store: AuditStore | None = None,
    resume: bool = True,
    cfg: PipelineConfig | None = None,
    scope: str = "webpages",
) -> dict[str, DataFrame]:
    """Full run. Returns {'docs', 'lineage', 'metrics', 'scored'} frames.

    With a store: writes lineage/rule_metrics/docs/row_count_history and
    marks partitions done; a rerun after failure skips completed
    partitions via the checkpoint anti-join (idempotent appends).
    """
    cfg = cfg or PipelineConfig()
    pages = pages.withColumn("partition_value", F.to_date("warc_ts"))
    if resume and store is not None:
        done = completed_partitions(spark, store, scope)
        pages = filter_unprocessed(pages, done)

    # fold the scrub into the post-window projection and persist WITHOUT
    # the raw text: every downstream consumer (docs/lineage/metrics/
    # history) reads the persisted frame, and dropping the dominant
    # column shrinks the cache ~40% (kept docs carry scrubbed text only;
    # dropped docs carry none) — the memory-pressure lever that showed up
    # as sub-linear thread scaling at local[32]
    scored = score_pages(spark, pages.drop("partition_value"), cfg)
    # the keep-condition goes INSIDE the UDF input: Spark extracts pandas
    # UDFs out of `when` branches into an unconditional ArrowEvalPython
    # node, so `when(keep, scrub_udf(text))` still regex-scans every
    # DROPPED doc — feeding `when(keep, text)` (null otherwise) instead
    # skips them inside the batch (na_action='ignore'), byte-identically
    # for kept docs
    scored = (scored
              .withColumn("text_scrubbed",
                          scrub_udf(F.when(F.col("keep"), F.col("text"))))
              .withColumn("scrub_changed",
                          F.when(F.col("keep"),
                                 F.col("text_scrubbed") != F.col("text")))
              .drop("text"))
    scored = scored.persist(StorageLevel.MEMORY_AND_DISK)

    docs = (scored.filter("keep")
            .select("url", "warc_ts", "partition_value",
                    F.col("text_scrubbed").alias("text"),
                    "lang_pred", "ppl", "scrub_changed"))
    lineage = melt_lineage(scored, execution_id)
    metrics = rule_metrics(scored, execution_id)

    if store is not None:
        parts = [r["partition_value"] for r in
                 scored.select("partition_value").distinct().collect()]
        # dynamic partition overwrite at day grain: a partition whose
        # processing crashed after a partial append is fully REPLACED on
        # the rerun (the checkpoint anti-join only skips partitions whose
        # mark_done committed, and mark_done runs last) — "a partition is
        # either fully absent or fully present" holds even mid-crash
        store.overwrite_partitions("docs", docs)
        store.overwrite_partitions("lineage", lineage)
        store.overwrite_partitions("rule_metrics", metrics)
        history = (scored.groupBy("partition_value")
                   .agg(F.count(F.lit(1)).alias("row_count"))
                   .select(
                       F.lit(execution_id).alias("execution_id"),
                       F.lit(run_ts).alias("execution_timestamp"),
                       F.lit("PROD").alias("environment"),
                       F.lit(scope).alias("database_name"),
                       F.col("partition_value").cast("string").alias("table_name"),
                       "row_count"))
        store.overwrite_partitions("row_count_history", history,
                                   ["execution_id", "table_name"])
        mark_done(spark, store, scope, execution_id, parts, run_ts)

    return {"docs": docs, "lineage": lineage, "metrics": metrics,
            "scored": scored}
