"""rapidfuzz_spark benchmark.

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. Sets up a local Spark session sized from the
host, generates the workload's inputs from ``--seed``, warms up, then sends
jobs one at a time for ``--seconds`` (at least one job) and checks every
output. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` the run traces the layers (see tracing.py) and the metrics are
the per-layer ones. The line before it is a report with every figure of the
run, including the ones BENCHMARK.json does not gate.

Scratch files go to ``.perfbench/work`` under the repository root and are
removed at exit; span traces are written to ``.perfbench/traces`` and the
untraced results a traced run compares against to ``.perfbench/results``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

# fails here, before any output, when the package is not next to the bench
import rapidfuzz_spark  # noqa: E402,F401

import layers  # noqa: E402
import session  # noqa: E402
from workloads import SIZES, WORKLOADS  # noqa: E402


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return (s[(n - 1) // 2] + s[n // 2]) / 2


def tail(xs: list[float]) -> dict:
    """The highest whole percentile with at least ten samples above it."""
    n = len(xs)
    s = sorted(xs)
    best = None
    for p in range(99, 0, -1):
        idx = math.ceil(p / 100 * n) - 1
        if idx >= 0 and n - 1 - idx >= 10:
            best = {"pct": p, "value": s[idx]}
            break
    return {"n": n, "tail": best}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size",
        choices=sorted(SIZES),
        default="full",
        help="input size; 'tiny' is for the smoke test",
    )
    args = ap.parse_args()

    out_root = os.path.join(ROOT, ".perfbench")
    work_dir = os.path.join(out_root, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    host = session.host_profile()
    spark = None
    try:
        spark = session.start_session(host, work_dir, ROOT, ui=bool(args.trace))
        t_session = time.perf_counter()
        wl = WORKLOADS[args.workload](
            spark, host, args.seed, work_dir, SIZES[args.size][args.workload]
        )
        wl.prepare()
        t_inputs = time.perf_counter()
        wl.warm_up()
        t_ready = time.perf_counter()
        setup = {
            "session_s": t_session - T_START,
            "inputs_s": t_inputs - t_session,
            "warmup_s": t_ready - t_inputs,
        }
        setup_s = t_ready - T_START
        if args.trace:
            report, result = layers.traced_run(wl, spark, args, out_root)
        else:
            report, result = measured_run(wl, args.seconds)
            result["metrics"]["setup_s"] = {"value": setup_s, "unit": "s"}
            layers.save_record(
                out_root,
                layers.record_key(wl.name, args.size),
                args.seed,
                report["walls"],
                report["hashes"],
            )
        report.update(
            workload=args.workload,
            seed=args.seed,
            trace=args.trace,
            host=host,
            setup=setup,
            setup_s=setup_s,
        )
    finally:
        if spark is not None:
            session.stop_session(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps({"report": report}, default=float))
    print(json.dumps(result))
    return 0


def measured_run(wl, seconds: float) -> tuple[dict, dict]:
    results = []
    with session.RssSampler() as rss:
        t0 = time.perf_counter()
        while not results or time.perf_counter() - t0 < seconds:
            results.append(wl.job(len(results)))
    extra = wl.check(results)
    walls = [r["wall_s"] for r in results]
    wall = median(walls)
    failed = sum(not r["ok"] for r in results)
    metrics = {
        "wall_s": {"value": wall, "unit": "s"},
        "docs_per_s": {"value": wl.docs_per_job / wall, "unit": "1/s"},
    }
    report = {
        "jobs": len(results),
        "wall_s": {"median": wall, **tail(walls)},
        "walls": walls,
        "error_rate": failed / len(results),
        # JVM heap growth makes this vary by more than a tenth between runs
        "peak_rss_mb": {"value": rss.peak_mb, "unit": "MB"},
        "hashes": [r["hash"] for r in results],
        **extra,
    }
    if wl.name == "score_long":
        n_scored = extra["n_pairs"] * extra["scorers"]
        report["pairs_per_s"] = {"value": n_scored / wall, "unit": "1/s"}
    if wl.name == "er_batch":
        batch_s = [r["batch_s"] for r in results]
        pipeline_s = median([r["pipeline_s"] for r in results])
        report["pipeline_s"] = {"value": pipeline_s, "unit": "s"}
        report["batch_p50_s"] = {"value": median(batch_s), "unit": "s"}
        report["batch_tail_s"] = {"unit": "s", **tail(batch_s)}
        report["pairwise_f1"] = {"value": extra["pairwise_f1"], "unit": "ratio"}
    result = {
        "correct": failed == 0,
        "attempted": len(results),
        "failed": failed,
        "metrics": metrics,
    }
    return report, result


if __name__ == "__main__":
    sys.exit(main())
