"""Structured Streaming path: batch-parity of keep/drop, windowed
metrics with watermark, availableNow end-to-end, bounded dedup."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from dq import streaming
from dq.heuristics import RULE_NAMES
from dq.pipeline import PipelineConfig, score_pages
from dq.synth import webpages


@pytest.fixture(scope="module")
def landing(spark, tmp_path_factory):
    """A small deterministic webpages landing dir (2 files)."""
    base = str(tmp_path_factory.mktemp("landing"))
    pages = webpages(spark, 2000, num_partitions=2)
    pages.write.mode("overwrite").parquet(base)
    return base


def test_stream_keep_matches_batch(spark, landing, tmp_path_factory):
    """The streaming scorer and the batch scorer agree per url on every
    row-local rule, both model scores and keep (one scoring core, two
    runtimes) — modulo dedup, which streaming applies with bounded
    state instead of a global keeper join."""
    out_dir = str(tmp_path_factory.mktemp("out"))
    cp = str(tmp_path_factory.mktemp("cp"))
    rules = RULE_NAMES + ["rule_lang", "rule_ppl"]
    cols = rules + ["lang_pred", "ppl"]
    pages = streaming.read_webpages_stream(spark, landing)
    scored = streaming.score_stream(spark, pages)
    q = (scored.select("url", "keep", *cols)
         .writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", cp)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    stream = {r["url"]: r for r in spark.read.parquet(out_dir).collect()}
    batch = {r["url"]: r for r in
             score_pages(spark, spark.read.parquet(landing),
                         PipelineConfig()).collect()}
    assert stream.keys() == batch.keys()
    for url, got in stream.items():
        want = batch[url]
        assert [got[c] for c in cols] == [want[c] for c in cols], url
        # keep_stream == batch keep ignoring rule_not_dup
        assert got["keep"] == all(want[c] for c in rules), url
    keeps = [r["keep"] for r in stream.values()]
    assert any(keeps) and not all(keeps)


def test_windowed_metrics_availablenow(spark, landing, tmp_path_factory):
    audit = str(tmp_path_factory.mktemp("audit"))
    cp = str(tmp_path_factory.mktemp("cp2"))
    q = streaming.run_stream_to_audit(spark, landing, audit, cp,
                                      window="6 hours")
    q.awaitTermination(120)
    m = spark.read.parquet(audit)
    rows = m.collect()
    assert rows, "no windows emitted"
    total = sum(r["total"] for r in rows)
    kept = sum(r["kept"] for r in rows)
    # watermark may hold back the trailing window(s); everything emitted
    # must be consistent and substantial
    assert 0 < kept < total
    assert all(r["window_end"] > r["window_start"] for r in rows)
    # per-window tallies are internally consistent
    for r in rows:
        assert 0 <= r["kept"] <= r["total"]
        assert r["pass__rule_non_empty"] <= r["total"]


def test_streaming_dedup_bounded(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("dups"))
    ts = dt.datetime(2025, 10, 1, 12, 0, 0)
    rows = [(f"u{i}", ts + dt.timedelta(minutes=i), None,
             "identical text " * 10, "en") for i in range(5)]
    rows += [(f"v{i}", ts + dt.timedelta(minutes=i), None,
              f"unique text number {i} " * 10, "en") for i in range(3)]
    rows += [("n0", ts, None, None, "en"),
             ("n1", ts + dt.timedelta(minutes=1), None, "   ", "en")]
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, "
              "lang string").write.mode("overwrite").parquet(base)
    out = str(tmp_path_factory.mktemp("dedup_out"))
    cp = str(tmp_path_factory.mktemp("dedup_cp"))
    pages = streaming.read_webpages_stream(spark, base)
    deduped = streaming.streaming_dedup(
        streaming.score_stream(spark, pages, watermark="10 minutes"))
    q = (deduped.select("url", "text_sig")
         .writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", cp)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out).collect()
    # 5 identical texts collapse to 1 survivor; 3 unique all survive;
    # null/blank texts key by url, so both survive
    sigs = [r["text_sig"] for r in got]
    assert len(sigs) == len(set(sigs)) == 6
    assert {"n0", "n1"} <= {r["url"] for r in got}


def test_running_key_stats_state_survives_restart(spark, tmp_path_factory):
    """applyInPandasWithState: cumulative per-key totals persist in the
    checkpoint state store — a second availableNow run over NEW files
    continues from the first run's counts."""
    landing = str(tmp_path_factory.mktemp("rks_landing"))
    cp = str(tmp_path_factory.mktemp("rks_cp"))

    def write_batch(rows):
        spark.createDataFrame(rows, "domain string, keep boolean") \
             .coalesce(1).write.mode("append").parquet(landing)

    def run(qname):
        stream = (spark.readStream.schema("domain string, keep boolean")
                  .parquet(landing))
        rows = []

        def sink(batch_df, _bid):
            rows.extend(batch_df.collect())

        q = (streaming.running_key_stats(stream, "domain", "keep")
             .writeStream.foreachBatch(sink)
             .option("checkpointLocation", cp)
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(120)
        # last emission per key = the running totals after this run
        latest = {}
        for r in rows:
            if r["domain"] not in latest or r["batches"] > latest[r["domain"]]["batches"]:
                latest[r["domain"]] = r
        return latest

    write_batch([("a.com", True), ("a.com", False), ("b.org", True)])
    first = run("rks_run1")
    assert (first["a.com"]["total"], first["a.com"]["kept"]) == (2, 1)
    assert (first["b.org"]["total"], first["b.org"]["kept"]) == (1, 1)

    write_batch([("a.com", True), ("c.net", False), ("b.org", None)])
    second = run("rks_run2")
    # a.com continued from state (2+1 total, 1+1 kept); c.net starts
    # fresh; b.org's NULL keep counts as not-kept (and must not crash
    # the object-dtype sum)
    assert (second["a.com"]["total"], second["a.com"]["kept"]) == (3, 2)
    assert second["a.com"]["batches"] >= 2
    assert (second["c.net"]["total"], second["c.net"]["kept"]) == (1, 0)
    assert (second["b.org"]["total"], second["b.org"]["kept"]) == (2, 1)
