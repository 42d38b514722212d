#!/usr/bin/env python3
"""Benchmark of the two user-facing jobs of ``dq``.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Each run is a fresh process and a closed loop with one caller: it sets up
a session at ``local[nproc]`` (as ``scripts/run_job.py`` does), builds or
reuses the seeded input, runs one cold job and then warm jobs, one after
another, until ``--seconds`` have passed, checking every job's outputs.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``). A full artifact
(host context, input properties, per-job figures, and for traced runs the
spans and event-log stage and SQL metrics) goes to ``.perfbench/artifacts``.
See perfbench/README.md.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# longdoc is not in BENCHMARK.json (see README.md) but runs the same way
WORKLOADS = ("crawl", "longdoc", "table-checks")
SETUP_SAMPLES = 2        # this process plus one probe process
MIN_WARM_JOBS = 3        # a median of three drops one slow job
PROBE_TIMEOUT_S = 120

sys.path[:0] = [HERE, ROOT]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--setup-probe", metavar="DIR", default=None,
                   help=argparse.SUPPRESS)
    return p.parse_args(argv)


def missing_sources() -> list[str]:
    need = ["dq/pipeline.py", "dq/checks_job.py", "dq/session.py",
            "BENCHMARK.json"]
    return [n for n in need if not os.path.isfile(os.path.join(ROOT, n))]


def prepare_env(run_dir: str, nproc: int, heap_gb: int) -> None:
    """Everything Spark, the JVM and Python workers write goes under
    ``run_dir`` (inside the checkout)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "DQ_DRIVER_MEM": f"{heap_gb}g",
        "DQ_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONDONTWRITEBYTECODE": "1",
    })


def spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def ship_dq(spark, run_dir: str) -> None:
    """What ``dq.queries.ensure_dq_shipped`` does (content-hashed zip of
    ``dq`` + ``addPyFile``), with the zip inside the checkout: that
    function writes its zip to ``/tmp``."""
    import hashlib
    import zipfile
    members = sorted(
        (os.path.join(r, f), os.path.relpath(os.path.join(r, f), ROOT))
        for r, _d, fs in os.walk(os.path.join(ROOT, "dq"))
        for f in fs if f.endswith(".py"))
    h = hashlib.sha256()
    for full, rel in members:
        h.update(rel.encode())
        with open(full, "rb") as f:
            h.update(f.read())
    zip_path = os.path.join(run_dir, f"dq_pyfiles_{h.hexdigest()[:16]}.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for full, rel in members:
            zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)


def setup_session(workload: str, run_dir: str, trace: bool):
    """Session ready for the workload's entry point: its imports, the
    session factory, shipping ``dq`` and one trivial action."""
    t0 = time.perf_counter()
    if workload == "table-checks":
        import dq.checks_job  # noqa: F401
    else:
        import dq.pipeline  # noqa: F401
    from dq.session import get_spark
    spark = get_spark("perfbench", extra_conf=spark_conf(run_dir, trace))
    t1 = time.perf_counter()
    ship_dq(spark, run_dir)
    t2 = time.perf_counter()
    spark.range(1).count()
    t3 = time.perf_counter()
    return spark, {"setup_s": t3 - t0, "get_spark_s": t1 - t0,
                   "ship_s": t2 - t1, "first_action_s": t3 - t2}


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def setup_probe(args) -> int:
    """Child-process mode: one more set-up sample, printed as JSON."""
    from host import driver_heap_gb, nproc
    prepare_env(args.setup_probe, nproc(), driver_heap_gb())
    spark, timing = setup_session(args.workload, args.setup_probe, False)
    stop_session(spark)
    print(json.dumps(timing))
    return 0


def run_probes(workload: str, run_dir: str, n: int) -> list[dict]:
    out = []
    for i in range(n):
        probe_dir = os.path.join(run_dir, f"probe{i}")
        os.makedirs(probe_dir)
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload",
             workload, "--setup-probe", probe_dir],
            capture_output=True, text=True, timeout=PROBE_TIMEOUT_S,
            check=True, cwd=ROOT)
        out.append(json.loads(proc.stdout.strip().splitlines()[-1]))
    return out


def drains(spark, workload: str, inp: dict) -> dict:
    """Traced runs only: isolated timed calls into single layers."""
    from pyspark.sql import functions as F
    out = {"heuristics.drain_s": 0.0, "models.drain_s": 0.0,
           "checks_job.table_s": 0.0, "thresholds.compute_s": 0.0}

    def timed(fn):
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    if workload == "table-checks":
        from dq import rules
        from dq.audit import AuditStore
        from dq.thresholds import compute_thresholds, threshold_for
        from inputs import RUN_DATE
        hist = AuditStore(os.path.join(inp["root"], "history_store"))
        thr: dict = {}

        def thresholds():
            thr.update(compute_thresholds(
                hist.read(spark, "row_count_history")))
        out["thresholds.compute_s"] = timed(thresholds)
        for s in inp["props"]["specs"]:
            thr_s = threshold_for(thr, s["environment"], s["database"],
                                  s["table"])
            out["checks_job.table_s"] += timed(
                lambda s=s, t=thr_s: rules.run_all_checks(
                    spark.read.parquet(s["path"]), s["database"],
                    s["table"], s["expected_schema"], run_date=RUN_DATE,
                    threshold=t, environment=s["environment"]))
        return out
    from dq.heuristics import with_heuristics
    from dq.models import make_langid_udf, make_perplexity_udf

    def drain(df):
        df.write.format("noop").mode("overwrite").save()
    pages = spark.read.parquet(inp["pages"])
    out["heuristics.drain_s"] = timed(
        lambda: drain(with_heuristics(pages, "text")))
    langid, ppl = make_langid_udf(spark), make_perplexity_udf(spark)
    out["models.drain_s"] = timed(lambda: drain(pages.select(
        langid(F.col("text")).alias("l"), ppl(F.col("text")).alias("p"))))
    return out


def median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def run_jobs(job, tracer, store_cls, run_dir: str, seconds: float) -> list:
    """The closed loop: a cold job, then warm jobs until ``seconds`` have
    passed (at least ``MIN_WARM_JOBS``). Each job gets a fresh store and
    is checked after its timed span; a job that raises or fails a check
    is counted as failed and the loop goes on."""
    from jobs import store_layout
    records, warm_t0 = [], None
    while True:
        i = len(records)
        rec = {"job": f"job{i}",
               "store": os.path.join(run_dir, "stores", f"job{i}")}
        job.prepare(rec["store"])
        try:
            with tracer.span(rec["job"]) as span:
                result = job.run(store_cls(rec["store"]), tracer)
            rec["wall_s"] = span["end"] - span["start"]
            rec["span"] = span
            job.release(result)
            rec["problems"], rec["facts"] = job.check(rec["store"], result)
        except Exception:  # noqa: BLE001 — a failed job is counted
            rec["problems"], rec["facts"] = [traceback.format_exc()], {}
        rec["layout"] = store_layout(rec["store"])
        records.append(rec)
        if i > 0:
            shutil.rmtree(records[i - 1]["store"], ignore_errors=True)
        if warm_t0 is None:
            warm_t0 = time.perf_counter()
        elif (i >= MIN_WARM_JOBS
              and time.perf_counter() - warm_t0 >= seconds):
            return records


def end_to_end(records: list, setup_samples: list, props: dict,
               peak_rss_mb: float) -> dict:
    ok = [r for r in records if not r["problems"]]
    cold = records[0] if not records[0]["problems"] else None
    warm_s = median([r["wall_s"] for r in records[1:]
                     if not r["problems"]])
    in_bytes = props.get("text_bytes") or props["input_bytes"]
    return {
        "setup_s": median(setup_samples),
        "cold_s": cold["wall_s"] if cold else 0.0,
        "warm_s": warm_s,
        "docs_per_s": props["docs"] / warm_s if warm_s else 0.0,
        "peak_rss_mb": peak_rss_mb,
        "audit_bytes_per_input_byte": median(
            [sum(t["bytes"] for t in r["layout"].values()) / in_bytes
             for r in ok]),
        "audit_files": median(
            [sum(t["files"] for t in r["layout"].values()) for r in ok]),
        "success_rate": len(ok) / len(records),
    }


def traced_layers(run_dir: str, tracer, records: list, setup: dict,
                  drained: dict, pipeline: bool) -> tuple[dict, dict]:
    """Per-layer metrics: median over the warm jobs, worker start from
    the cold job, set-up and isolated drains as measured."""
    from dq.audit import TABLES
    from tracing import EventLog, job_layers, load_event_log
    ev = EventLog(load_event_log(os.path.join(run_dir, "eventlog")))
    inputs_dir = os.path.join(WORK, "inputs")
    per_job = [job_layers(ev, tracer, r["span"], r["layout"], r["facts"],
                          inputs_dir, TABLES, pipeline)
               for r in records if "span" in r]
    layers = {k: median([m[k] for m in per_job[1:]] or [per_job[0][k]])
              for k in per_job[0]}
    for k in ("python.boot_ms", "python.init_ms"):
        layers[k] = per_job[0][k]          # workers start in the cold job
    layers.update(drained)
    layers["session.get_spark_s"] = setup["get_spark_s"]
    layers["session.ship_s"] = setup["ship_s"]
    detail = {
        "per_job_layers": per_job,
        "spans": tracer.spans,
        "stages": {r["job"]: ev.stage_summary(r["job"]) for r in records},
        "sql": {r["job"]: ev.sql_summary(r["job"]) for r in records},
    }
    return layers, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.setup_probe:
        return setup_probe(args)
    missing = missing_sources()
    if missing:
        print(f"perfbench: not a dq checkout, missing {missing}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    import host
    trace = bool(args.trace)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    n_cpu, heap = host.nproc(), host.driver_heap_gb()
    probe_before = host.single_core_probe()
    prepare_env(run_dir, n_cpu, heap)
    spark, setup = setup_session(args.workload, run_dir, trace)

    import inputs
    import jobs
    from dq.audit import AuditStore
    from pyspark import SparkContext
    from tracing import TimedAuditStore, Tracer

    tracer = Tracer(T0, spark if trace else None)
    t_in = time.perf_counter()
    inp = inputs.BUILDERS[args.workload](spark, WORK, args.seed)
    input_s = time.perf_counter() - t_in
    job = jobs.JOBS[args.workload](spark, inp, args.workload)
    store_cls = ((lambda path: TimedAuditStore(path, tracer)) if trace
                 else AuditStore)
    records = run_jobs(job, tracer, store_cls, run_dir, args.seconds)
    drained = drains(spark, args.workload, inp) if trace else {}
    peak_rss_mb = host.tree_peak_rss_mb(SparkContext._gateway.proc.pid)
    versions = {"master": spark.sparkContext.master,
                "pyspark": spark.version,
                "java": spark.sparkContext._jvm.System.getProperty(
                    "java.version")}
    stop_session(spark)
    probes = run_probes(args.workload, run_dir, SETUP_SAMPLES - 1)
    probe_after = host.single_core_probe()

    e2e = end_to_end(records, [setup["setup_s"]]
                     + [p["setup_s"] for p in probes], inp["props"],
                     peak_rss_mb)
    artifact = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "host": {"nproc": n_cpu, "driver_heap": f"{heap}g",
                 "single_core_probe_s": {"before": probe_before,
                                         "after": probe_after},
                 **versions, **host.code_version(ROOT)},
        "input": {k: v for k, v in inp["props"].items() if k != "specs"},
        "input_prepare_s": input_s,
        "setup": {"main": setup, "probes": probes},
        "jobs": [{k: v for k, v in r.items() if k not in ("span", "store")}
                 for r in records],
        "end_to_end": e2e,
    }
    metrics, section = e2e, "end_to_end"
    if trace:
        layers, detail = traced_layers(run_dir, tracer, records, setup,
                                       drained,
                                       args.workload != "table-checks")
        layers["engine.peak_rss_mb"] = peak_rss_mb
        artifact.update(per_layer=layers, **detail)
        metrics, section = layers, "per_layer"
    out_dir = os.path.join(WORK, "artifacts")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-"
                                    f"trace{args.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    for r in records:
        for p in r["problems"]:
            print(f"perfbench: {r['job']} failed: {p}", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    failed = sum(1 for r in records if r["problems"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]),
                                "unit": m["unit"]} for m in spec[section]},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
