"""Production entrypoint: the quality-filter pipeline via spark-submit.

Packaging (north rule: "Packaged for spark-submit --py-files"):

    cd /root/repo && zip -r /tmp/dq.zip dq
    spark-submit --py-files /tmp/dq.zip scripts/run_job.py \
        --input  s3://bucket/webpages/          \
        --audit  s3://bucket/dq_audit/          \
        --execution-id 2025-10-03-daily         \
        --run-date 2025-10-03

On a cluster, omit ``--master`` and let spark-submit supply YARN/K8s;
the session factory only fills in ``local[N]`` when nothing is set,
and any ``--conf`` you submit wins over its defaults.
Re-running the same command after a failure resumes: completed
partitions are skipped via the checkpoint anti-join, and audit appends
are keyed by (execution_id, partition) so reruns stay idempotent.
"""

from __future__ import annotations

import argparse
import datetime as dt
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description="web-text quality-filter run")
    p.add_argument("--input", required=True,
                   help="webpages table path (parquet/Iceberg)")
    p.add_argument("--audit", required=True, help="audit store base path")
    p.add_argument("--execution-id", required=True)
    p.add_argument("--run-date", required=True,
                   help="YYYY-MM-DD; injected clock for freshness "
                        "semantics (never the wall clock)")
    p.add_argument("--no-resume", action="store_true",
                   help="reprocess all partitions even if checkpointed")
    p.add_argument("--accept-langs", default="en",
                   help="comma-separated language allowlist")
    p.add_argument("--ppl-threshold", type=float, default=None)
    p.add_argument("--repartition", type=int, default=None,
                   help="salted pre-stage repartition width (skewed "
                        "domains); omit to trust input splits + AQE")
    return p.parse_args(argv)


def pipeline_config(args):
    """The run's ``PipelineConfig``; an omitted ``--ppl-threshold`` means
    the library default, an explicit 0 is kept."""
    from dq.models import DEFAULT_PPL_THRESHOLD
    from dq.pipeline import PipelineConfig
    return PipelineConfig(
        accept_langs=tuple(args.accept_langs.split(",")),
        ppl_threshold=(DEFAULT_PPL_THRESHOLD if args.ppl_threshold is None
                       else args.ppl_threshold),
        repartition=args.repartition,
    )


def main(argv=None) -> int:
    args = parse_args(argv or sys.argv[1:])
    from dq.audit import AuditStore
    from dq.pipeline import run_pipeline
    from dq.session import get_spark

    spark = get_spark("dq-quality-filter")
    print(f"session: master={spark.sparkContext.master} "
          f"shuffle.partitions="
          f"{spark.conf.get('spark.sql.shuffle.partitions')}")
    try:  # no-op under --py-files; covers bare local runs from any cwd
        from dq.queries import ensure_dq_shipped
        ensure_dq_shipped(spark)
    except Exception:  # noqa: BLE001
        pass
    run_date = dt.date.fromisoformat(args.run_date)
    cfg = pipeline_config(args)
    pages = spark.read.parquet(args.input)
    store = AuditStore(args.audit)
    out = run_pipeline(
        spark, pages, args.execution_id,
        dt.datetime.combine(run_date, dt.time(0, 0)),
        store=store, resume=not args.no_resume, cfg=cfg)
    kept = out["docs"].count()
    print(f"execution {args.execution_id}: kept {kept} docs; "
          f"audit at {args.audit}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
