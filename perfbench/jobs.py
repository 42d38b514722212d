"""One job of each kind through its public entry point, plus the output
checks that decide whether the job counts as failed.

Checks read the audit store with DuckDB, an engine independent of the
program under test, after the job's timed span has ended.
"""

from __future__ import annotations

import os
import shutil

import duckdb

from inputs import RUN_DATE

EXECUTION_ID = "perfbench"       # constant, so audit digests repeat per seed
SCRUB_SAMPLE = 200
MIN_F1 = 0.99


def _parquet_files(path: str) -> list[str]:
    return [os.path.join(r, f) for r, _d, fs in os.walk(path)
            for f in fs if f.endswith(".parquet")]


def _table(store: str, name: str) -> str | None:
    """DuckDB source for an audit table; None when no rows were written."""
    path = os.path.join(store, name)
    if not _parquet_files(path):
        return None
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def store_layout(store: str) -> dict[str, dict]:
    """Parquet bytes and files per audit table."""
    out = {}
    for table in sorted(os.listdir(store)) if os.path.isdir(store) else []:
        files = _parquet_files(os.path.join(store, table))
        out[table] = {"files": len(files),
                      "bytes": sum(os.path.getsize(f) for f in files)}
    return out


def digests(con, store: str) -> dict[str, list]:
    """Order-independent content digest of every audit table."""
    out = {}
    for table in sorted(os.listdir(store)):
        src = _table(store, table)
        if src is None:
            continue
        n, h = con.execute(
            f"SELECT count(*), sum(hash(t)::HUGEINT) FROM {src} t").fetchone()
        out[table] = [n, str(h)]
    return out


def _connect():
    con = duckdb.connect()
    con.execute("SET threads TO 2")      # checks stay small beside Spark
    return con


class Job:
    """One workload's job: ``prepare`` the store, ``run`` (timed),
    ``release`` cached frames, then ``check`` the outputs."""

    def __init__(self, spark, inp: dict, workload: str):
        self.spark = spark
        self.inp = inp
        self.workload = workload
        self.reference_digests = None

    def prepare(self, store_dir: str) -> None:
        pass

    def release(self, result: dict) -> None:
        pass

    def check(self, store_dir: str, result: dict) -> tuple[list, dict]:
        """(problems, facts) of one job's outputs; no problems = passed."""
        with _connect() as con:
            problems, facts = self._check(con, store_dir, result)
            return problems + self._same_as_first(con, store_dir), facts

    def _same_as_first(self, con, store_dir):
        dig = digests(con, store_dir)
        if self.reference_digests is None:
            self.reference_digests = dig
            return []
        return [f"audit table {t} digest differs from the first job"
                for t in sorted(set(dig) | set(self.reference_digests))
                if dig.get(t) != self.reference_digests.get(t)]


class PipelineJob(Job):
    """``dq.pipeline.run_pipeline`` with a path-mode store, as
    ``scripts/run_job.py`` runs it (including its kept-docs count)."""

    def __init__(self, spark, inp: dict, workload: str):
        from dq.pipeline import ALL_RULES
        super().__init__(spark, inp, workload)
        self.n_rules = len(ALL_RULES)

    def run(self, store, tracer) -> dict:
        import datetime as dt

        from dq.pipeline import run_pipeline
        run_ts = dt.datetime.combine(RUN_DATE, dt.time())
        out = run_pipeline(self.spark,
                           self.spark.read.parquet(self.inp["pages"]),
                           EXECUTION_ID, run_ts, store=store)
        with tracer.span("kept_count"):
            kept = out["docs"].count()
        return {"kept": kept, "_scored": out["scored"]}

    def release(self, result: dict) -> None:
        result.pop("_scored").unpersist()

    def _check(self, con, store_dir: str, result: dict):
        from dq.scrub import scrub_string
        props = self.inp["props"]
        n_in = props["docs"]
        problems = []
        docs = _table(store_dir, "docs")
        n_docs = con.execute(f"SELECT count(*) FROM {docs}").fetchone()[0] \
            if docs else 0
        if n_docs != result["kept"]:
            problems.append(f"docs rows {n_docs} != kept {result['kept']}")
        lineage = _table(store_dir, "lineage")
        n_lineage = con.execute(f"SELECT count(*) FROM {lineage}"
                                ).fetchone()[0] if lineage else 0
        if n_lineage != n_in * self.n_rules:
            problems.append(f"lineage rows {n_lineage} != {n_in} x "
                            f"{self.n_rules}")
        for rule, total, kept in con.execute(
                "SELECT rule_name, sum(total), sum(kept) FROM "
                f"{_table(store_dir, 'rule_metrics')} GROUP BY rule_name"
        ).fetchall():
            if total != n_in or kept != n_docs:
                problems.append(f"rule_metrics {rule}: total {total} kept "
                                f"{kept}, want {n_in} / {n_docs}")
        done = con.execute(
            "SELECT count(DISTINCT partition_value) FROM "
            f"{_table(store_dir, 'rule_metrics')}").fetchone()[0]
        facts = {"kept": n_docs, "scrub_changed": 0,
                 "partitions_skipped": props["partitions"] - done}
        if docs:
            facts["scrub_changed"] = con.execute(
                f"SELECT count(*) FROM {docs} WHERE scrub_changed"
            ).fetchone()[0]
            pages = f"read_parquet('{self.inp['pages']}/*.parquet')"
            bad = [u for u, orig, got in con.execute(
                f"SELECT d.url, p.text, d.text FROM {docs} d JOIN {pages} p "
                f"USING (url) ORDER BY hash(d.url) LIMIT {SCRUB_SAMPLE}"
            ).fetchall() if scrub_string(orig) != got]
            if bad:
                problems.append(f"{len(bad)} sampled docs differ from "
                                f"scrub_string(original), e.g. {bad[0]}")
        if self.workload == "crawl":
            oracle = os.path.join(self.inp["root"], "oracle.parquet")
            tp, fp, fn = con.execute(
                f"SELECT count(*) FILTER (o.want_keep AND d.url IS NOT NULL),"
                f" count(*) FILTER (NOT o.want_keep AND d.url IS NOT NULL),"
                f" count(*) FILTER (o.want_keep AND d.url IS NULL) "
                f"FROM read_parquet('{oracle}') o LEFT JOIN "
                f"(SELECT url FROM {docs}) d USING (url)").fetchone()
            f1 = 2 * tp / (2 * tp + fp + fn) if tp else 0.0
            facts["f1"] = round(f1, 5)
            if f1 < MIN_F1:
                problems.append(f"keep/drop F1 {f1:.4f} < {MIN_F1} "
                                f"(tp {tp}, fp {fp}, fn {fn})")
        elif n_docs != round(props["kept_share"] * n_in):
            problems.append(f"kept {n_docs}, oracle expects "
                            f"{round(props['kept_share'] * n_in)}")
        return problems, facts


class ChecksJob(Job):
    """``dq.checks_job.run_checks_job`` over DEV/PROD spec pairs, as
    ``scripts/run_checks.py`` runs it, on a store preseeded with
    ``row_count_history``."""

    def __init__(self, spark, inp: dict, workload: str):
        from dq.checks_job import TableSpec
        super().__init__(spark, inp, workload)
        self.specs = [TableSpec(s["environment"], s["database"], s["table"],
                                s["path"], s["expected_schema"])
                      for s in inp["props"]["specs"]]
        with _connect() as con:
            self.counts = {
                (s["environment"], s["table"]): con.execute(
                    f"SELECT count(*) FROM read_parquet('{s['path']}')"
                ).fetchone()[0] for s in inp["props"]["specs"]}

    def prepare(self, store_dir: str) -> None:
        shutil.copytree(os.path.join(self.inp["root"], "history_store"),
                        store_dir)

    def run(self, store, tracer) -> dict:
        from dq.checks_job import run_checks_job
        out = run_checks_job(self.spark, self.specs, EXECUTION_ID, RUN_DATE,
                             store)
        return {"results": out["results"]}

    def _check(self, con, store_dir: str, result: dict):
        problems = []
        results = result["results"]
        want = 6 * len(self.specs) + len(self.specs) // 2
        if len(results) != want:
            problems.append(f"{len(results)} check results, want {want}")
        seen = 0
        for r in results:
            if r["test_name"] != "row_count_check":
                continue
            seen += 1
            key = (r["environment"], r["table"])
            if r["actual_row_count"] != self.counts[key]:
                problems.append(f"{key} actual_row_count "
                                f"{r['actual_row_count']} != DuckDB "
                                f"count {self.counts[key]}")
        if seen != len(self.specs):
            problems.append(f"{seen} row_count_check results for "
                            f"{len(self.specs)} specs")
        results_src = _table(store_dir, "check_results")
        n = con.execute(f"SELECT count(*) FROM {results_src}").fetchone()[0] \
            if results_src else 0
        if n != want:
            problems.append(f"check_results table has {n} rows, want {want}")
        return problems, {"results": len(results),
                          "passed": sum(1 for r in results if r["passed"])}


JOBS = {"crawl": PipelineJob, "longdoc": PipelineJob,
        "table-checks": ChecksJob}
