"""escp_spark benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload {build,ingest} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. Builds nothing: the engine is pure Python
and is imported from the checkout. Prints a host line and an info line
(per-workload named metrics, serving latency, sample counts, span checks,
the exact-count record
and its differences from an earlier run of the same seed), then, as the
last line of standard output, one JSON object:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, measured
untraced; ``--trace 1`` reports its per-layer metrics from a traced run.
Exit status: 0 when every output checked correct, 1 on a correctness
mismatch or a failed operation, 2 when BENCHMARK.json or the engine is
missing. All scratch files live under ``.perfbench_work/`` in the
checkout; per-run directories are removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("build", "ingest")


def _record(workload: str, seed: int, trace: int, counts: dict,
            e2e: dict) -> tuple[list[str], dict]:
    """Keep the first exact-count record of each (workload, seed) and the
    latest end-to-end values (and serving latencies) per trace mode.
    Returns the counts that differ from the kept record, and the tracing
    overhead (traced / untraced - 1 per value) when both modes have run."""
    path = os.path.join(WORK, "records", f"{workload}-seed{seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    rec = {}
    if os.path.exists(path):
        with open(path) as f:
            rec = json.load(f)
    kept = rec.setdefault("counts", counts)
    diffs = sorted(k for k in kept.keys() | counts.keys()
                   if kept.get(k) != counts.get(k))
    rec.setdefault("e2e", {})[str(trace)] = e2e
    overhead = {}
    if {"0", "1"} <= rec["e2e"].keys():
        base, traced = rec["e2e"]["0"], rec["e2e"]["1"]
        overhead = {k: traced[k] / base[k] - 1.0 for k in base
                    if k in traced and base[k]}
    with open(path, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    return diffs, overhead


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        print(f"perfbench: {spec_path} not found", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    if not os.path.isfile(os.path.join(ROOT, "escp_spark", "__init__.py")):
        print("perfbench: the escp_spark engine is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the engine from the checkout too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    import harness

    host = harness.host_snapshot()
    print(json.dumps({"host": host}), flush=True)
    cpus = min(host["nproc"], 4)

    import workloads

    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        with harness.spark_session(work, cpus) as spark:
            run = workloads.Run(spark, work, args.seed, args.seconds,
                                bool(args.trace), T_PROCESS)
            workloads.WORKLOADS[args.workload](run)
            run.out.e2e["peak_rss_mb"] = harness.peak_rss_mb()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out = run.out
    verdict = harness.host_verdict(host)
    diffs, overhead = _record(args.workload, args.seed, args.trace,
                              out.counts, {**out.e2e, **out.info["serving"]})
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        **verdict,
        "workload_metrics": out.info["workload_metrics"],
        "serving": out.info["serving"],
        "samples": out.info["samples"],
        "span_checks": out.info["span_checks"],
        "counts": out.counts,
        "count_diffs": diffs,
        "trace_overhead": overhead,
        "mismatches": out.mismatches,
        "tie_order_diffs": out.tie_order,
    }
    print(json.dumps(info), flush=True)
    for m in out.mismatches:
        print(f"perfbench: MISMATCH {m}", file=sys.stderr)
    for m in out.tie_order:
        print(f"perfbench: tie order {m}", file=sys.stderr)
    for k in diffs:
        print(f"perfbench: count {k} differs from the first run of seed "
              f"{args.seed}", file=sys.stderr)

    if args.trace:
        # A layer this workload does not run reports 0.
        wanted = spec["per_layer"]
        values = {m["name"]: out.layers.get(m["name"], 0.0) for m in wanted}
    else:
        wanted, values = spec["end_to_end"], out.e2e
    metrics = {m["name"]: {"value": float(values[m["name"]]),
                           "unit": m["unit"]} for m in wanted}
    correct = not out.mismatches and out.failed == 0
    print(json.dumps({"correct": correct, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
