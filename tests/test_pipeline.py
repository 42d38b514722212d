"""End-to-end pipeline tests: keep/drop F1 vs an independent pandas oracle
(FIXTURES.md §5), scrub byte-identity on kept docs, checkpointed resume."""

import datetime as dt
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dq.audit import AuditStore
from dq.checkpoint import mark_done
from dq.pipeline import PipelineConfig, run_pipeline, score_pages
from dq.scrub import scrub_string
from dq.synth import BUCKETS, webpages

N = 1200
RUN_TS = dt.datetime(2025, 10, 3, 6, 0, 0)


def _bucket_group(b):
    for name, (lo, hi) in BUCKETS.items():
        if lo <= b <= hi:
            return name
    raise AssertionError(b)


def _oracle_keep(pdf: pd.DataFrame) -> pd.Series:
    """Reference-semantics keep/drop computed in pure pandas."""
    group = pdf["bucket"].map(_bucket_group)
    keep = group.isin(["clean", "pii"])
    dup = group == "dup"
    if dup.any():
        first_url = (pdf[dup].groupby("text")["url"].transform("min")
                     .reindex(pdf.index))
        keep = keep | (dup & (pdf["url"] == first_url))
    return keep


def test_keep_drop_f1_vs_oracle(spark):
    pages = webpages(spark, N, with_labels=True)
    scored = score_pages(spark, pages.drop("bucket", "domain", "content_key"))
    got = scored.select("url", "keep").toPandas().set_index("url")["keep"]

    pdf = pages.select("url", "text", "bucket").toPandas()
    want = _oracle_keep(pdf)
    pdf["want"] = want
    pdf = pdf.set_index("url")

    both = pdf.join(got.rename("got"))
    tp = int((both.want & both.got).sum())
    fp = int((~both.want & both.got).sum())
    fn = int((both.want & ~both.got).sum())
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall)
    assert f1 >= 0.99, (f1, tp, fp, fn)


def test_score_pages_plan_shape(spark, tmp_path):
    """The initial plan of ``score_pages`` (taken before any action):
    ONE Arrow node runs token stats, langid and perplexity together,
    and the keeper branch is a narrow (url, text) scan feeding one
    map-side-combined exchange on ``text_sig`` — a keeper branch that
    pulled a UDF in would show a second Arrow node."""
    path = str(tmp_path / "pages")
    webpages(spark, 200, num_partitions=2).write.parquet(path)
    scored = score_pages(spark, spark.read.parquet(path))
    plan = scored._jdf.queryExecution().executedPlan().toString()
    arrow = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    assert len(arrow) == 1, plan
    for udf in ("_token_stats_udf", "langid", "perplexity"):
        assert udf in arrow[0], arrow[0]
    assert plan.count("Exchange hashpartitioning(text_sig") == 1, plan
    assert "partial_min" in plan and "Window" not in plan, plan
    assert "ReadSchema: struct<url:string,text:string>" in plan, plan


def test_flagship_goldens(spark):
    """Regression gate for the model-scored flagship (the one driver
    query with no SQL oracle): per-(source, rule) pass tallies AND
    quantized model-score sums at sf0.001/sf0.01 must match the
    committed goldens exactly. The score pins are order-independent
    long sums (xxhash64(lang_pred) mod p; floor(ppl*100)) of per-doc
    values the batch≡per-doc property tests prove partition-invariant,
    so any model change that shifts a verdict OR a score fails loudly
    — regenerate via scripts/make_goldens.py only with an intentional
    model change."""
    import json
    import pathlib

    from dq import queries

    golden = json.load(open(
        pathlib.Path(__file__).parent / "goldens"
        / "quality_filter_pipeline.json"))
    for sf, want in golden.items():
        d = f"/root/testdata/{sf}"
        tallies = sorted(
            (r.asDict() for r in
             queries.q_quality_filter_pipeline(spark, d).collect()),
            key=lambda r: r["source"])
        assert tallies == want["tallies"], sf
        pins = sorted(
            (r.asDict() for r in
             queries.flagship_scored(spark, d).groupBy("source").agg(
                 F.sum(F.pmod(F.xxhash64("lang_pred"),
                              F.lit(1000003))).alias("lang_hash_sum"),
                 F.sum(F.floor(F.col("ppl") * 100)
                       .cast("long")).alias("ppl_q_sum"),
                 F.sum(F.col("lang_pred").eqNullSafe(F.lit("en"))
                       .cast("long")).alias("n_en")).collect()),
            key=lambda r: r["source"])
        assert pins == want["score_pins"], sf


def test_pipeline_outputs_and_scrub_identity(spark, tmp_path):
    store = AuditStore(str(tmp_path / "audit"))
    pages = webpages(spark, 600)
    out = run_pipeline(spark, pages, "exec1", RUN_TS, store=store)

    docs = out["docs"].collect()
    assert len(docs) > 0
    # kept docs: scrubbed text byte-identical to python scrub of original
    originals = {r.url: r.text for r in pages.collect()}
    changed = 0
    for d in docs:
        assert d.text == scrub_string(originals[d.url]), d.url
        changed += int(d.scrub_changed)
    assert changed > 0                      # PII docs were kept and scrubbed
    assert all("@" not in d.text or "[EMAIL]" in d.text for d in docs)

    # lineage: one row per (url, rule)
    from dq.pipeline import ALL_RULES
    lineage = store.read(spark, "lineage")
    n_pages = pages.count()
    assert lineage.count() == n_pages * len(ALL_RULES)

    # metrics add up
    m = store.read(spark, "rule_metrics")
    row = m.filter("rule_name = 'rule_non_empty'").agg(
        F.sum("total").alias("t"), F.sum("kept").alias("k")).collect()[0]
    assert row.t == n_pages
    assert row.k == len(docs)

    out["scored"].unpersist()


def test_resume_skips_completed_partitions(spark, tmp_path):
    store = AuditStore(str(tmp_path / "audit2"))
    pages = webpages(spark, 400)

    out1 = run_pipeline(spark, pages, "exec1", RUN_TS, store=store)
    n_lineage = store.read(spark, "lineage").count()
    assert n_lineage > 0
    out1["scored"].unpersist()

    # rerun: every partition checkpointed → nothing reprocessed,
    # no duplicate audit rows
    out2 = run_pipeline(spark, pages, "exec2", RUN_TS, store=store)
    assert out2["scored"].count() == 0
    assert store.read(spark, "lineage").count() == n_lineage
    assert store.read(spark, "docs").count() == out1["docs"].count()
    out2["scored"].unpersist()


def test_partial_resume_processes_only_remaining(spark, tmp_path):
    store = AuditStore(str(tmp_path / "audit3"))
    pages = webpages(spark, 400).withColumn("pv", F.to_date("warc_ts"))
    parts = sorted(r.pv for r in pages.select("pv").distinct().collect())
    half = parts[: len(parts) // 2]
    mark_done(spark, store, "webpages", "exec0", half, RUN_TS)

    out = run_pipeline(spark, pages.drop("pv"), "exec1", RUN_TS, store=store)
    seen = {r.partition_value for r in
            out["scored"].select("partition_value").distinct().collect()}
    assert seen == set(parts) - set(half)
    out["scored"].unpersist()


def test_run_job_keeps_explicit_zero_ppl_threshold():
    """``--ppl-threshold 0`` is a threshold, not "unset"."""
    import importlib.util
    from pathlib import Path

    from dq.models import DEFAULT_PPL_THRESHOLD

    path = Path(__file__).resolve().parent.parent / "scripts" / "run_job.py"
    spec = importlib.util.spec_from_file_location("run_job", path)
    run_job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run_job)
    base = ["--input", "in", "--audit", "audit", "--execution-id", "e1",
            "--run-date", "2025-10-03"]

    def cfg(*extra):
        return run_job.pipeline_config(run_job.parse_args(base + list(extra)))

    assert cfg("--ppl-threshold", "0").ppl_threshold == 0.0
    assert cfg("--ppl-threshold", "250").ppl_threshold == 250.0
    assert cfg().ppl_threshold == DEFAULT_PPL_THRESHOLD
    assert isinstance(cfg(), PipelineConfig)


class _CrashingStore(AuditStore):
    """Path-mode store that raises right after its k-th
    ``overwrite_partitions`` call has committed."""

    def __init__(self, base_path, crash_after):
        super().__init__(base_path)
        self.crash_after = crash_after
        self.calls = 0

    def overwrite_partitions(self, table, df, keys=None):
        super().overwrite_partitions(table, df, keys)
        self.calls += 1
        if self.calls == self.crash_after:
            raise RuntimeError(f"crash after write {self.calls} ({table})")


AUDIT_TABLES = ("docs", "lineage", "rule_metrics", "row_count_history",
                "checkpoint")


def _audit_rows(spark, store):
    return {t: sorted(map(tuple, store.read(spark, t).collect()), key=repr)
            for t in AUDIT_TABLES}


def test_crash_after_each_audit_write_reruns_to_clean_tables(spark, tmp_path):
    """Crash-point matrix: a run that dies after its k-th partition
    overwrite (k = 1..4, all before ``mark_done``) and is rerun under the
    same execution id leaves the same five audit tables as a clean run,
    with one ``done`` checkpoint row per day, written as one file."""
    pages = webpages(spark, 200, num_partitions=2)
    clean = AuditStore(str(tmp_path / "clean"))
    run_pipeline(spark, pages, "exec1", RUN_TS, store=clean)["scored"].unpersist()
    want = _audit_rows(spark, clean)
    days = pages.select(F.to_date("warc_ts")).distinct().count()
    assert len(want["checkpoint"]) == days
    # mark_done writes a run's checkpoint rows as one file
    assert sum(f.endswith(".parquet") for _d, _s, files
               in os.walk(clean.path("checkpoint")) for f in files) == 1

    for k in range(1, 5):
        base = str(tmp_path / f"crash{k}")
        with pytest.raises(RuntimeError, match=f"crash after write {k}"):
            run_pipeline(spark, pages, "exec1", RUN_TS,
                         store=_CrashingStore(base, k))
        # the dead process's cached frame goes with it
        spark.catalog.clearCache()
        store = AuditStore(base)
        assert store.read(spark, "checkpoint") is None, k
        run_pipeline(spark, pages, "exec1", RUN_TS,
                     store=store)["scored"].unpersist()
        got = _audit_rows(spark, store)
        assert got == want, k
        done = store.read(spark, "checkpoint").filter("status = 'done'")
        assert done.count() == done.select("partition_value").distinct().count() == days
