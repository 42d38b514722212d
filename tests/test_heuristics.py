"""Heuristic rule semantics on hand-built documents."""

from pyspark.sql import functions as F

from dq.heuristics import all_pass, with_heuristics

CLEAN = ("the river and the mountain were seen from the village garden "
         "and the people of the valley said that the harvest was good "
         "and the weather in the autumn was mild and the market price "
         "of the grain was stable and the library of the station had "
         "many books about the history of the region and its people")


def _score(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    return with_heuristics(df).withColumn("hpass", all_pass()).collect()


def test_clean_doc_passes(spark):
    r = _score(spark, [CLEAN])[0]
    assert r.hpass, r.asDict()
    assert r.n_words >= 50 and r.stopword_frac > 0.2
    assert r.rule_distinct_ratio and r.rule_symbol_ratio


def test_null_and_empty_fail_all(spark):
    for r in _score(spark, [None, "", "   "]):
        assert not r.rule_non_empty
        assert not r.hpass
        assert not r.rule_min_words        # gated to False, not NULL


def test_short_doc_fails_min_words(spark):
    r = _score(spark, ["only a few words here"])[0]
    assert not r.rule_min_words and not r.hpass


def test_symbol_heavy_fails(spark):
    words = ("alpha ## beta @@ gamma ## delta $$ " * 20) + CLEAN
    r = _score(spark, [words])[0]
    assert r.symbol_ratio > 0.1
    assert not r.rule_symbol_ratio


def test_low_stopword_fails(spark):
    t = " ".join(["mountain river garden window engine"] * 15)
    r = _score(spark, [t])[0]
    assert r.stopword_frac == 0.0
    assert not r.rule_stopword_frac


def test_repetition_fails_distinct_ratio(spark):
    t = " ".join(["the market price was stable today"] * 20)
    r = _score(spark, [t])[0]
    assert r.distinct_ratio < 0.2
    assert not r.rule_distinct_ratio


def test_unicode_letters_count_as_alpha(spark):
    t = " ".join(["في من على إلى حديقة نافذة رحلة طريق"] * 10)
    r = _score(spark, [t])[0]
    assert r.alpha_frac == 1.0 and r.rule_alpha_frac


ADVERSARIAL = [
    None, "", "   ", "\t", "\tfoo bar", "foo bar\t", "a . b", "a b",
    "the the the", "only4 1234 5678", "café naïve 中文 words",
    "في من text", "MIXED Case TEXT", "a  b   c",
    "tab\tseparated\ttokens", "newline\nseparated", "x" * 5000,
    ("word " * 200).strip(), "\xa0leading nbsp", "trailing nbsp\xa0",
    "\x0b vertical \x0c formfeed \r cr", "num3r1c t0kens 42 7",
    " sentinel tok", "a\x1fb c", "punct!!! ???", "...",
    "i̇stanbul İstanbul", "ss ß straße", "only.  spaced", "d d",
]


def test_arrow_udf_matches_column_exprs_exactly(spark):
    """The Arrow-UDF token-stats path (the hot path) must be
    bit-identical to the Column-expression reference implementation —
    including the leading/trailing-empty-token split semantics, ASCII-\\s
    tokenization, \\p{L}/\\p{N} normalization, and both in-band sentinel
    fallbacks — on adversarial fixtures AND real corpus data."""
    from pyspark.sql import functions as F

    from dq.heuristics import (RULE_NAMES, STAT_COLS, with_heuristics,
                               with_heuristics_expr)
    cols = STAT_COLS + RULE_NAMES
    frames = [spark.createDataFrame([(t,) for t in ADVERSARIAL],
                                    "text string"),
              spark.read.parquet(
                  "/root/testdata/sf0.001/documents.parquet").select("text")]
    for df in frames:
        a = with_heuristics(df).select(
            *[F.col(c).alias(f"a_{c}") for c in cols]) \
            .withColumn("_i", F.monotonically_increasing_id())
        b = with_heuristics_expr(df).select(
            *[F.col(c).alias(f"b_{c}") for c in cols]) \
            .withColumn("_i", F.monotonically_increasing_id())
        j = a.join(b, "_i")
        cond = None
        for c in cols:
            ne = ~(F.col(f"a_{c}").eqNullSafe(F.col(f"b_{c}")))
            cond = ne if cond is None else (cond | ne)
        bad = j.filter(cond).collect()
        assert not bad, bad[:3]


def test_token_stats_is_one_arrow_node(spark):
    """The stats UDF must appear exactly once in the physical plan (no
    re-evaluation per referenced struct field) and as ArrowEvalPython,
    not row-at-a-time BatchEvalPython."""
    from dq.heuristics import with_heuristics
    df = spark.createDataFrame([("the cat sat",)], "text string")
    plan = with_heuristics(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan


def test_catalog_queries_survive_ansi_on_session(spark):
    """The driver may hand us a Spark-4-default ANSI-on session; the
    stopword map lookup uses try_element_at and every catalog query
    pins ansi off via _t() — heuristics and the flagship pipeline must
    not throw MAP_KEY_DOES_NOT_EXIST / CAST_INVALID_INPUT."""
    from dq.queries import q_heuristic_rule_summary, q_quality_filter_pipeline
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        assert q_heuristic_rule_summary(
            spark, "/root/testdata/sf0.001").count() > 0
        assert q_quality_filter_pipeline(
            spark, "/root/testdata/sf0.001").count() > 0
        # direct heuristics call under a raw ANSI-on frame (no _t pin):
        spark.conf.set("spark.sql.ansi.enabled", "true")
        df = spark.createDataFrame(
            [(1, "the cat sat on the mat with his friends and all of them")],
            "id long, text string")
        row = with_heuristics(df).collect()[0]
        assert row["stopword_frac"] > 0
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")
