#!/usr/bin/env python3
"""Write the committed traced runs, ``perfbench/traces/<workload>.json``.

    python3 perfbench/record_traces.py [--seed 7] [--seconds 10]

For each workload it runs ``run.py`` untraced and then traced with the
same seed, and keeps: the per-layer metrics, both runs' end-to-end
metrics, the tracing overhead (traced ``warm_s`` minus untraced
``warm_s``), the host context, the input properties, every span, and the
event-log stage and SQL metrics of the first warm job.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl", "table-checks", "longdoc")


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True)
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"{workload} trace={trace}: outputs failed checks")
    path = os.path.join(ROOT, ".perfbench", "artifacts",
                        f"{workload}-seed{seed}-trace{trace}.json")
    with open(path) as f:
        return json.load(f)


def span_accounting(spans: list[dict], job: str) -> dict:
    """Job span = its self time + its child spans (store calls and the
    kept-docs count)."""
    top = next(s for s in spans if s["path"] == job)
    kids = {s["name"]: s["end"] - s["start"] for s in spans
            if s["parent"] == job}
    total = top["end"] - top["start"]
    return {"job_s": total, "children_s": kids,
            "self_s": total - sum(kids.values())}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--workload", choices=WORKLOADS, action="append")
    args = p.parse_args(argv)
    out_dir = os.path.join(HERE, "traces")
    os.makedirs(out_dir, exist_ok=True)
    for workload in args.workload or WORKLOADS:
        plain = run_once(workload, args.seed, args.seconds, 0)
        traced = run_once(workload, args.seed, args.seconds, 1)
        warm = "job1"
        record = {
            "workload": workload, "seed": args.seed,
            "seconds": args.seconds,
            "host": traced["host"], "input": traced["input"],
            "per_layer": traced["per_layer"],
            "end_to_end_untraced": plain["end_to_end"],
            "end_to_end_traced": traced["end_to_end"],
            "tracing_overhead_warm_s": (traced["end_to_end"]["warm_s"]
                                        - plain["end_to_end"]["warm_s"]),
            "warm_job_accounting": span_accounting(traced["spans"], warm),
            "spans": traced["spans"],
            "stages": {warm: traced["stages"][warm]},
            "sql": {warm: traced["sql"][warm]},
        }
        # paths in plan and stage names are the checkout's: drop its root
        text = json.dumps(record, indent=1).replace(ROOT + "/", "")
        with open(os.path.join(out_dir, f"{workload}.json"), "w") as f:
            f.write(text + "\n")
        print(f"{workload}: warm_s {plain['end_to_end']['warm_s']:.3f} "
              f"untraced, overhead "
              f"{record['tracing_overhead_warm_s']:+.3f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
