"""Structured Streaming surface for the quality-filter engine.

The reference is strictly batch (daily Airflow cron — SURVEY.md §2.8);
this module is the engine-completeness extension: the same rule
evaluation running continuously over an arriving webpages stream.

Design:
- **One scoring core, two runtimes.** ``score_stream`` calls the batch
  pipeline's own definitions on a streaming DataFrame: rule scoring
  (``dq.pipeline.score_rules`` under a ``PipelineConfig``), the keep
  conjunction (``dq.heuristics.all_pass``), the rule tallies
  (``dq.pipeline.rule_tallies``) and the dedup signature
  (``dq.dedup.text_signature``). Catalyst doesn't care, and keep/drop
  semantics cannot drift between the two paths because there is no
  second copy.
- **Event-time windows + watermark** for per-window rule metrics with
  bounded state: late pages beyond the watermark are dropped from the
  aggregation (the batch path has no such cutoff; the audit-table
  analog is the per-partition rule_metrics table).
- **File-source friendly**: works with ``spark.readStream.parquet`` on
  a landing directory and ``Trigger.AvailableNow`` for catch-up runs,
  which is also exactly how the tests drive it deterministically.
- **Stateful dedup** via ``dropDuplicatesWithinWatermark`` on the text
  signature — the streaming analog of the batch keeper join (state is
  bounded by the watermark instead of unbounded).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dq.dedup import text_signature
from dq.heuristics import all_pass
from dq.pipeline import ROW_RULES, PipelineConfig, rule_tallies, score_rules


def read_webpages_stream(spark: SparkSession, path: str,
                         max_files_per_trigger: int | None = None
                         ) -> DataFrame:
    """File-source stream over a webpages landing directory."""
    reader = spark.readStream
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.schema(
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string").parquet(path)


def score_stream(spark: SparkSession, pages: DataFrame,
                 cfg: PipelineConfig | None = None,
                 watermark: str = "1 hour") -> DataFrame:
    """Scored stream: ROW_RULES booleans + keep, exactly the batch
    semantics minus the global dedup (streaming uses watermark-bounded
    dedup, see ``streaming_dedup``)."""
    df = pages.drop("html").withWatermark("warc_ts", watermark)
    df = score_rules(spark, df, cfg or PipelineConfig())
    return df.withColumn("keep", all_pass(ROW_RULES))


def streaming_dedup(scored: DataFrame) -> DataFrame:
    """Watermark-bounded exact dedup: first arrival of a text signature
    wins; duplicates within the watermark horizon are dropped. State
    size is bounded by (docs per watermark window), not corpus size."""
    return (scored
            .withColumn("text_sig",
                        text_signature(F.col("text"), F.col("url")))
            .dropDuplicatesWithinWatermark(["text_sig"]))


def windowed_rule_metrics(scored: DataFrame,
                          window: str = "1 hour") -> DataFrame:
    """Per-event-time-window rule pass tallies — the streaming analog of
    the batch ``rule_metrics`` audit table. Watermark (already on the
    frame) bounds state; output mode 'append' emits each window once
    it is final."""
    return (scored.groupBy(F.window("warc_ts", window).alias("w"))
            .agg(*rule_tallies(ROW_RULES))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "total", "kept",
                    *[F.col(f"pass__{r}") for r in ROW_RULES]))


def running_key_stats(df: DataFrame, key_col: str = "source",
                      keep_col: str = "keep") -> DataFrame:
    """Custom stateful operator: CUMULATIVE per-key keep/total tallies
    across every micro-batch the stream has ever processed — what a
    per-domain quality dashboard reads, and something no built-in
    windowed aggregation expresses (windows bound state by event time;
    this state is a running total that never closes).

    ``applyInPandasWithState``: groups are shuffled to state-store
    partitions, the handler receives each key's Arrow batches plus its
    ``GroupState``, and the updated (total, kept, batches) tuple is
    persisted in the checkpoint's state store — so totals survive query
    restarts and ``availableNow`` catch-up runs continue from the prior
    run's counts (asserted in tests). State size is O(distinct keys),
    independent of stream length; emit is one row per key per batch
    (output mode 'update').
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    key_type = df.schema[key_col].dataType.simpleString()
    out_schema = f"{key_col} {key_type}, total long, kept long, batches long"
    state_schema = "total long, kept long, batches long"

    def update(key, pdfs, state):
        total = kept = 0
        for pdf in pdfs:
            total += len(pdf)
            # NULL keep counts as not-kept (object-dtype None would
            # otherwise TypeError the whole streaming query)
            kept += int(pdf[keep_col].fillna(False).sum())
        t, k, b = state.get if state.exists else (0, 0, 0)
        t, k, b = t + total, k + kept, b + 1
        state.update((t, k, b))
        yield pd.DataFrame([{key_col: key[0], "total": t,
                             "kept": k, "batches": b}])

    return (df.select(key_col, keep_col).groupBy(key_col)
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def run_stream_to_audit(spark: SparkSession, input_path: str,
                        audit_path: str, checkpoint_path: str,
                        window: str = "1 hour",
                        available_now: bool = True):
    """Wire the stream end-to-end: score → windowed metrics → parquet
    audit sink with exactly-once file-sink semantics via the checkpoint.

    ``available_now=True`` processes everything currently in the
    landing directory then stops — the deterministic catch-up mode the
    tests (and a cron'd micro-batch deployment) use; ``False`` runs
    continuously.
    """
    pages = read_webpages_stream(spark, input_path)
    scored = score_stream(spark, pages)
    metrics = windowed_rule_metrics(scored, window)
    writer = (metrics.writeStream
              .outputMode("append")
              .format("parquet")
              .option("path", audit_path)
              .option("checkpointLocation", checkpoint_path))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
