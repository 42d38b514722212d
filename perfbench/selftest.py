#!/usr/bin/env python3
"""Self-test of the benchmark's output checks: corrupted outputs must fail.

    python3 perfbench/selftest.py

Runs one crawl job and one table-checks job (seed 1), checks that their
real outputs pass, then corrupts copies of them one way at a time and
checks that each corruption is reported. Each corrupted copy is checked
by a fresh job object, so the cross-job digest comparison cannot be what
catches it. Exits 0 when every corruption is caught.
"""

import os
import shutil
import sys

import run  # noqa: E402  (sets sys.path to the benchmark and the repo)

import duckdb  # noqa: E402
import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

SEED = 1


def _file_with(store: str, table: str, url: str | None = None) -> str:
    """A parquet file of ``table`` holding ``url`` (any non-empty file)."""
    for r, _d, fs in os.walk(os.path.join(store, table)):
        for f in sorted(fs):
            if not f.endswith(".parquet"):
                continue
            path = os.path.join(r, f)
            t = pq.read_table(path)
            if t.num_rows and (url is None
                               or url in t.column("url").to_pylist()):
                return path
    raise LookupError(f"no {table} file with {url}")


def drop_docs_row(store: str) -> None:
    path = _file_with(store, "docs")
    t = pq.read_table(path)
    pq.write_table(t.slice(1), path)


def drop_lineage_file(store: str) -> None:
    os.remove(_file_with(store, "lineage"))


def alter_sampled_text(store: str) -> None:
    url = duckdb.execute(
        f"SELECT url FROM read_parquet('{store}/docs/**/*.parquet') "
        "ORDER BY hash(url) LIMIT 1").fetchone()[0]
    path = _file_with(store, "docs", url)
    t = pq.read_table(path)
    hit = pc.equal(t.column("url"), url)
    text = pc.if_else(hit, pc.binary_join_element_wise(
        t.column("text"), "x", ""), t.column("text"))
    pq.write_table(t.set_column(t.schema.get_field_index("text"), "text",
                                text), path)


def main() -> int:
    import host
    import inputs
    import jobs
    from dq.audit import AuditStore
    from tracing import Tracer

    run_dir = os.path.join(run.WORK, "selftest")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    run.prepare_env(run_dir, host.nproc(), host.driver_heap_gb())
    spark, _ = run.setup_session("crawl", run_dir, False)
    import dq.checks_job  # noqa: F401
    tracer = Tracer(0.0)
    failures = []

    def expect(label, job, store, result, want_problem):
        problems, _ = job.check(store, result)
        ok = bool(problems) == want_problem
        print(f"{'ok ' if ok else 'BAD'} {label}: "
              f"{problems[0][:100] if problems else 'no problem found'}")
        if not ok:
            failures.append(label)

    for workload, corruptions in (
            ("crawl", {"one docs row dropped": drop_docs_row,
                       "one lineage file dropped": drop_lineage_file,
                       "one sampled kept text altered": alter_sampled_text}),
            ("table-checks", {"one actual_row_count off by one": None})):
        inp = inputs.BUILDERS[workload](spark, run.WORK, SEED)
        job_cls = jobs.JOBS[workload]
        job = job_cls(spark, inp, workload)
        store = os.path.join(run_dir, workload, "clean")
        job.prepare(store)
        result = job.run(AuditStore(store), tracer)
        job.release(result)
        expect(f"{workload} clean output", job, store, result, False)
        for label, corrupt in corruptions.items():
            bad = os.path.join(run_dir, workload, label.replace(" ", "_"))
            shutil.copytree(store, bad)
            bad_result = dict(result)
            if corrupt is None:
                rows = [dict(r) for r in result["results"]]
                first = next(r for r in rows
                             if r["test_name"] == "row_count_check")
                first["actual_row_count"] += 1
                bad_result["results"] = rows
            else:
                corrupt(bad)
            expect(f"{workload} {label}", job_cls(spark, inp, workload),
                   bad, bad_result, True)
    run.stop_session(spark)
    shutil.rmtree(run_dir, ignore_errors=True)
    print("selftest:", "FAILED " + ", ".join(failures) if failures
          else "every corruption caught")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
