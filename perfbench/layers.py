"""The traced run: per-layer metrics, each with the end-to-end metric and the
workload it should move.

Every workload prints every per-layer metric; a layer a workload does not
call reads 0. Span figures are per job.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

from rapidfuzz_spark.pipeline import blocking, cluster, ingest, scoring
from rapidfuzz_spark.pipeline import run as P

import session
from tracing import COUNTERS, Tracer
from workloads import SCORERS

TRACE_REPS = 3  # score_long: traced passes and layer-split repetitions

# (span name, module, function) — the public functions the tracer wraps
WRAPPED = [
    ("ingest.with_match_text", ingest, "with_match_text"),
    ("blocking.pipeline_blocking_keys", P, "pipeline_blocking_keys"),
    ("blocking.sorted_neighborhood_pairs", blocking, "sorted_neighborhood_pairs"),
    ("blocking.hot_key_census", blocking, "hot_key_census"),
    ("blocking.candidate_pairs", blocking, "candidate_pairs"),
    ("scoring.attach_texts", scoring, "attach_texts"),
    ("scoring.score", scoring, "score_with_checkpoint"),
    ("scoring.score", scoring, "score_pairs"),
    ("cluster.connected_components", cluster, "connected_components"),
    ("cluster.assign_entities", cluster, "assign_entities"),
]
SPANS = list(dict.fromkeys(name for name, _, _ in WRAPPED))
KERNELS = [
    (k, v)
    for k in ("levenshtein_batch", "indel_batch", "jaro_winkler_batch")
    for v in ("k_set", "k_unset")
]
# the kernel variants score_long's four scorers run
JOB_KERNELS = [
    ("jaro_winkler_batch", "k_unset"),
    ("levenshtein_batch", "k_unset"),
    ("indel_batch", "k_set"),
    ("levenshtein_batch", "k_set"),
]
_COUNTER_UNITS = {
    "task_busy_s": ("s", "lower"),
    "shuffle_write_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
    "task_skew": ("ratio", "lower"),
    "failed_tasks": ("count", "lower"),
}


def _span_target(span: str, field: str) -> tuple[str, str]:
    if field == "spill_mb":
        return "peak_rss_mb", "er_batch"
    return "wall_s", "er_batch"


def per_layer_spec() -> list[dict]:
    """name, unit, better, and the end-to-end metric + workload it should
    move (BENCHMARK.json carries the first three)."""
    spec = []

    def add(name, unit, better, metric, workload):
        spec.append(
            dict(name=name, unit=unit, better=better, moves=metric, on=workload)
        )

    for sp in SPANS:
        tgt = _span_target(sp, "s")
        add(f"{sp}.s", "s", "lower", *tgt)
        add(f"{sp}.rows_in", "count", "lower", *tgt)
        add(f"{sp}.rows_out", "count", "lower", *tgt)
        add(f"{sp}.jobs", "count", "lower", *tgt)
        for c in COUNTERS:
            add(f"{sp}.{c}", *_COUNTER_UNITS[c], *_span_target(sp, c))
    add("run.other_s", "s", "lower", "wall_s", "er_batch")
    add("scoring.edge_yield", "ratio", "higher", "wall_s", "er_batch")
    add("incremental.batch_s", "s", "lower", "wall_s", "er_batch")
    add("incremental.base_keys.s", "s", "lower", "wall_s", "er_batch")
    add("incremental.candidates.rows", "count", "lower", "wall_s", "er_batch")
    add("incremental.write.s", "s", "lower", "wall_s", "er_batch")
    for k, v in KERNELS:
        kv = f"kernels.{k}.{v}"
        add(f"{kv}.busy_s", "s", "lower", "docs_per_s", "score_long")
        add(f"{kv}.pairs_per_s_1t", "1/s", "higher", "docs_per_s", "score_long")
    add("kernels.share", "ratio", "lower", "docs_per_s", "score_long")
    add("spark.scan_join_s", "s", "lower", "docs_per_s", "score_long")
    add("functions.arrow_roundtrip_s", "s", "lower", "docs_per_s", "score_long")
    for name in SCORERS:
        add(f"functions.{name}.s", "s", "lower", "docs_per_s", "score_long")
    add("functions.udf_overhead_s", "s", "lower", "docs_per_s", "score_long")
    add("trace.wall_s", "s", "lower", "wall_s", "both workloads")
    add("trace.overhead_s", "s", "lower", "wall_s", "both workloads")
    return spec


def _under(spans: list[dict], s: dict, name: str) -> bool:
    p = s["parent"]
    while p is not None:
        if spans[p]["name"] == name:
            return True
        p = spans[p]["parent"]
    return False


def span_metrics(spans: list[dict], n_jobs: int) -> dict:
    m: dict[str, float] = {}
    for sp in SPANS:
        sel = [s for s in spans if s["name"] == sp]
        m[f"{sp}.s"] = sum(s["self_s"] for s in sel) / n_jobs
        for f in ("rows_in", "rows_out", "jobs"):
            m[f"{sp}.{f}"] = sum(s.get(f, 0) for s in sel) / n_jobs
        for c in COUNTERS:
            vals = [s.get(c, 0) for s in sel]
            if c == "task_skew":
                m[f"{sp}.{c}"] = max(vals) if vals else 0.0
            else:
                m[f"{sp}.{c}"] = sum(vals) / n_jobs
    m["run.other_s"] = (
        sum(s["self_s"] for s in spans if s["name"] == "run.run_pipeline") / n_jobs
    )
    sc = [s for s in spans if s["name"] == "scoring.score"]
    rin = sum(s["rows_in"] for s in sc)
    m["scoring.edge_yield"] = sum(s["rows_out"] for s in sc) / rin if rin else 0.0
    inc = "incremental.link_increment"
    m["incremental.base_keys.s"] = (
        sum(
            s["self_s"]
            for s in spans
            if s["name"] == "blocking.hot_key_census" and _under(spans, s, inc)
        )
        / n_jobs
    )
    m["incremental.candidates.rows"] = (
        sum(s["rows_in"] for s in sc if _under(spans, s, inc)) / n_jobs
    )
    m["incremental.write.s"] = (
        sum(s["self_s"] for s in spans if s["name"] == "incremental.write") / n_jobs
    )
    return m


def _score_long_layers(wl, tracer: Tracer, cores: int) -> tuple[dict, list[dict]]:
    split = wl.layer_split(TRACE_REPS)
    traced = [wl.job(i + 1, tracer) for i in range(TRACE_REPS)]
    kt = wl.kernel_timing()
    a, b = split["scan_join_s"], split["identity_udf_s"]
    m: dict[str, float] = {
        "spark.scan_join_s": a,
        "functions.arrow_roundtrip_s": b - a,
    }
    d = {}
    for name in SCORERS:
        d[name] = float(np.median([r["scorer_s"][name] for r in traced]))
        m[f"functions.{name}.s"] = d[name]
    for (k, v), (busy, n) in kt["variants"].items():
        m[f"kernels.{k}.{v}.busy_s"] = busy
        m[f"kernels.{k}.{v}.pairs_per_s_1t"] = n / busy if busy > 0 else 0.0
    job_busy = sum(kt["variants"][kv][0] for kv in JOB_KERNELS)
    m["kernels.share"] = job_busy / (cores * sum(d.values()))
    m["functions.udf_overhead_s"] = sum(x - b for x in d.values()) - job_busy / cores
    return m, traced


def record_key(workload: str, size: str) -> str:
    """Records hold for one workload, size and version of the code: the
    key carries a digest of the package's and the benchmark's sources."""
    h = hashlib.sha1()
    here = os.path.dirname(os.path.abspath(__file__))
    for top in (os.path.join(os.path.dirname(here), "rapidfuzz_spark"), here):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
    return f"{workload}-{size}-{h.hexdigest()[:12]}"


def _records(out_root: str, key: str) -> dict[int, dict]:
    """Untraced results of one workload and size kept in this checkout, by
    seed."""
    d = os.path.join(out_root, "results")
    out = {}
    if os.path.isdir(d):
        for name in os.listdir(d):
            if name.startswith(key + "-seed") and name.endswith(".json"):
                with open(os.path.join(d, name)) as fh:
                    rec = json.load(fh)
                out[rec["seed"]] = rec
    return out


def save_record(out_root: str, key: str, seed: int, walls, hashes) -> None:
    d = os.path.join(out_root, "results")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{key}-seed{seed}.json"), "w") as fh:
        json.dump({"seed": seed, "walls": walls, "hashes": hashes}, fh)


def traced_run(wl, spark, args, out_root: str) -> tuple[dict, dict]:
    """The workload's jobs with the layers traced. The untraced reference —
    output hash and job wall for the same seed — is an in-process untraced
    job where one is cheap (score_long), else the record an untraced run of
    this seed left in ``.perfbench/results``; without either the hash guard
    is reported as not run and the overhead is taken against other seeds'
    records."""
    records = _records(out_root, record_key(wl.name, args.size))
    ref_walls, ref_hashes, ref_from = [], [], "none"
    ref_extra = {}
    if wl.name == "score_long":
        ref = [wl.job(0)]
        ref_extra = wl.check(ref)
        ref_walls, ref_hashes = [r["wall_s"] for r in ref], [r["hash"] for r in ref]
        ref_from = "in-process"
    elif args.seed in records:
        ref_walls = records[args.seed]["walls"]
        ref_hashes = records[args.seed]["hashes"]
        ref_from = "same-seed record"
    elif records:
        ref_walls = [w for r in records.values() for w in r["walls"]]
        ref_from = "other-seed records"
    tracer = Tracer(spark)
    for name, module, attr in WRAPPED:
        tracer.wrap(module, attr, name)
    try:
        if wl.name == "score_long":
            layer_m, traced = _score_long_layers(wl, tracer, wl.host["cores"])
        else:
            traced = [wl.job(0, tracer)]
            tracer.release()
            layer_m = {"incremental.batch_s": traced[0]["batch_s"]}
    finally:
        tracer.restore()
    tracer.attribute(session.StageScraper(spark))
    tracer.self_times()
    extra = wl.check(traced, quality=not ref_hashes)

    spec = per_layer_spec()
    m = {s["name"]: 0.0 for s in spec}
    m.update(span_metrics(tracer.spans, len(traced)))
    m.update(layer_m)
    traced_wall = float(np.median([r["wall_s"] for r in traced]))
    m["trace.wall_s"] = traced_wall
    ref_wall = float(np.median(ref_walls)) if ref_walls else traced_wall
    m["trace.overhead_s"] = traced_wall - ref_wall
    tr_h = [r["hash"] for r in traced]
    hashes_match = all(h == ref_hashes[0] for h in tr_h) if ref_hashes else None
    failed = sum(not r["ok"] for r in traced) + (hashes_match is False)
    attempted = len(traced) + (hashes_match is not None)

    os.makedirs(os.path.join(out_root, "traces"), exist_ok=True)
    path = os.path.join(out_root, "traces", f"{wl.name}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"spans": tracer.spans, "metrics": m}, fh, indent=1, default=float)

    units = {s["name"]: s["unit"] for s in spec}
    report = {
        **ref_extra,
        **extra,
        "traced_jobs": len(traced),
        "untraced_reference": ref_from,
        "untraced_walls": ref_walls,
        "hashes_untraced": ref_hashes,
        "hashes_traced": tr_h,
        "hashes_match": hashes_match,
        "spans_file": os.path.relpath(path, os.path.dirname(out_root)),
        "targets": {s["name"]: f"{s['moves']} on {s['on']}" for s in spec},
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in m.items()},
    }
    return report, result
