"""perfbench — the repository benchmark.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Runs one workload (see workloads.py and README.md) from the root of a
checkout against the public API of librecatastro_spark, checks the
answers, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
with the end-to-end metrics (--trace 0) or the per-layer metrics of a
traced run (--trace 1). The line before it records the host noise of the
run (steal %, 1-min load average, start time); the same record is
appended to perfbench/_work/runs.jsonl.

The first run in a checkout prepares it (prep.py, in its own process):
generated corpora, the golden results_sha check and ExactBM25 references.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

PREP_TIMEOUT_S = 840


def ensure_prep(common) -> dict:
    rec = common.load_prep()
    if rec is not None:
        return rec
    subprocess.run([sys.executable, os.path.join(BENCH_DIR, "prep.py")],
                   cwd=ROOT, check=True, timeout=PREP_TIMEOUT_S,
                   stdout=sys.stderr)
    rec = common.load_prep()
    if rec is None:
        raise RuntimeError("prep.py finished without a usable prep.json")
    return rec


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "librecatastro_spark")):
        print("perfbench: librecatastro_spark/ not found next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    from perfbench import common, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    os.makedirs(common.WORK, exist_ok=True)
    prep = ensure_prep(common)

    host0 = common.host_sample()
    t0 = time.perf_counter()
    spark = common.start_session(f"perfbench-{args.workload}")
    t_session = time.perf_counter() - t0
    try:
        run = workloads.Run(spark, args.seed, args.seconds, bool(args.trace), prep)
        run.start(t_session)
        workloads.WORKLOADS[args.workload](run, t_session)
    finally:
        common.stop_session(spark)
    host1 = common.host_sample()

    if not prep["golden_ok"]:
        print(f"# golden results_sha {prep['golden_sha']} != {common.GOLDEN_SHA}",
              file=sys.stderr)
    run.attempted += 1
    run.failed += 0 if prep["golden_ok"] else 1
    host = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "start_unix": host0["t"], "steal_pct": common.steal_pct(host0, host1),
        "loadavg1": host0["load1"], "golden_sha": prep["golden_sha"],
        "samples": run.samples, "latencies_s": run.lat,
    }
    if args.trace:
        run.layer["host.steal_pct"] = host["steal_pct"]
        run.layer["host.loadavg1"] = host["loadavg1"]
        run.tracer.write(os.path.join(
            common.WORK, f"trace-{args.workload}-{args.seed}.jsonl"))
        names, values = workloads.LAYER_METRICS, run.layer
    else:
        names, values = workloads.METRICS, run.e2e
    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in names.items()}
    host["metrics"] = {k: v["value"] for k, v in metrics.items()}
    with open(os.path.join(common.WORK, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(host) + "\n")
    print(json.dumps({k: host[k] for k in
                      ("start_unix", "steal_pct", "loadavg1", "samples")}))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
