"""Column-form convenience wrappers and schema helpers — thin public
API surface over the tested internals; exercised here so none of it
drifts dead."""

from pyspark.sql import functions as F

import dq
from dq import dedup, multimodal, schemas, scrub


def test_get_schema_returns_copy(spark):
    s = schemas.get_schema("webpages")
    assert s, "webpages schema must be declared"
    s["injected"] = "string"
    assert "injected" not in schemas.get_schema("webpages")
    assert schemas.get_schema("no_such_table") == {}


def test_media_table_schema_shape(spark):
    st = multimodal.media_table_schema()
    assert [f.name for f in st.fields] == ["media_id", "payload", "meta"]
    df = spark.createDataFrame([], st)   # instantiable
    assert df.schema == st


def test_catalog_session_restores_confs(spark):
    """Embedding a catalog query in an ANSI-on session: catalog_session
    restores both pinned confs on exit, and ANSI semantics are really
    back (a bad cast throws again)."""
    from dq.queries import QUERIES
    from dq.session import catalog_session

    spark.conf.set("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with catalog_session(spark):
            df = QUERIES["daily_row_counts"](spark, "/root/testdata/sf0.001")
            assert df.count() > 0
            # inside: the catalog pinned its semantics
            assert spark.conf.get("spark.sql.ansi.enabled") == "false"
            assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
        assert spark.conf.get("spark.sql.session.timeZone") \
            == "America/New_York"
        try:
            spark.sql("SELECT CAST('not a number' AS INT)").collect()
            raised = False
        except Exception:
            raised = True
        assert raised, "ANSI cast semantics not actually restored"
    finally:
        # shared test session: put the suite's defaults back
        spark.conf.set("spark.sql.ansi.enabled", "false")
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_column_form_wrappers(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta contact a@b.co now")],
        "doc_id long, text string")
    out = dedup.with_simhash(df).withColumns({
        "sig": dedup.minhash_signature(F.col("text"), num_hashes=16),
        "clean": scrub.scrub_col("text"),
    }).collect()[0]
    assert out["simhash"] is not None
    assert len(out["sig"]) == 16
    assert "[EMAIL]" in out["clean"]
    # wrappers mirror the underlying callables exactly
    assert out["clean"] == scrub.scrub_string(
        "alpha beta gamma delta contact a@b.co now")


def test_driver_frames_go_through_local_frame():
    """Every driver-built frame in ``dq`` goes through
    ``dq.session.local_frame``: a ``createDataFrame`` call anywhere else
    would bring back the Python-RDD scan it exists to avoid."""
    import ast
    from pathlib import Path

    pkg = Path(dq.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))

        def visit(node, scope):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                scope = node.name
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                    and not (path.name == "session.py"
                             and scope == "local_frame")):
                offenders.append(f"{path.name}:{node.lineno} in {scope}")
            for child in ast.iter_child_nodes(node):
                visit(child, scope)

        visit(tree, "<module>")
    assert offenders == []


def test_default_cpus_follows_the_host(monkeypatch):
    import os

    from dq.session import default_cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
