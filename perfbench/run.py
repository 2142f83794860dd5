"""perfbench entry point: one workload, one fresh process, one JSON line.

    python3 perfbench/run.py --workload api|churn|analytics --seed N --seconds S --trace 0|1

`--trace 0` measures the end-to-end metrics with no instrumentation.
`--trace 1` is a separate run that wraps the library's public functions in
spans, labels every op's Spark jobs with a job group and reads Spark's event
log afterwards; it prints the per-layer metrics.  The last line of stdout is
the result object; the exit code is non-zero when any output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.environ.get("PERFBENCH_DATA", os.path.expanduser("~/testdata"))
WORKLOADS = ("churn", "analytics")
JOBS = [
    "graph_connected_components",
    "dedup_minhash_lsh",
    "similarity_ivf_topk",
    "qagg_percentiles",
    "text_duplicate_spans",
]
CLASSES = {
    "churn": ["create", "update", "remove", "dashboard", "lookup", "adhoc", "maintain"],
    "analytics": JOBS,
}

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "cpu_ms_per_op": "ms",
    "peak_rss_mb": "MB",
    "ok_pct": "%",
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit.  A layer a
    workload does not exercise reads 0 there (the bypass evidence)."""
    units = {"trace.ops_per_s": "1/s"}
    for wl, classes in CLASSES.items():
        for c in classes:
            units[f"{wl}.{c}.wall_ms_p50"] = "ms"
    for job in JOBS:
        units[f"{job}.build_ms"] = "ms"
        units[f"{job}.action_ms"] = "ms"
        units[f"{job}.eager_jobs"] = "count"
    units.update(
        {
            "churn.read_p50_ms": "ms",
            "churn.write_p50_ms": "ms",
            "churn.space_amp": "ratio",
            "http_api.server_ms_p50": "ms",
            "http_api.transport_ms_p50": "ms",
            "http_api.resp_kb_per_op": "KB",
            "fields.validate_ms_p50": "ms",
            "qlang.fold_ms_p50": "ms",
            "qlang.steps_per_chain": "count",
            "qlang.aggs.compile_ms_p50": "ms",
            "qlang.renderers.render_ms_p50": "ms",
            "qlang.renderers.rows_per_op": "count",
            "qlang.cache.hit_pct": "%",
            "qlang.cache.lookup_ms_p50": "ms",
            "qlang.cache.fill_ms_p50": "ms",
            "qlang.cache.evictions": "count",
            "catalog.load_ms": "ms",
            "catalog.v_scans_per_op": "count",
            "store.commit_ms_p50": "ms",
            "store.bytes_written_per_user_byte": "ratio",
            "store.files_per_version": "count",
            "store.read_ms_p50": "ms",
            "store.live_versions": "count",
            "writes.session_build_ms_p50": "ms",
            "writes.conflicts": "count",
            "index_catchup.sweep_ms_p50": "ms",
            "index_catchup.rows_applied": "count",
            "index_catchup.compactions": "count",
            "index_catchup.live_segments_max": "count",
            "tombstones.rows": "count",
            "value_index.lookup_ms_p50": "ms",
            "value_index.rows_scanned_per_hit": "ratio",
            "dedup.minhash_lsh.candidates_per_pair": "ratio",
            "spark.jobs_per_op": "count",
            "spark.tasks_per_op": "count",
            "spark.planning_ms_per_op": "ms",
            "spark.executor_cpu_ms_per_op": "ms",
            "spark.gc_ms_per_op": "ms",
            "spark.shuffle_bytes_per_op": "bytes",
            "spark.spill_bytes_per_op": "bytes",
            "spark.sched_wait_ms_per_op": "ms",
        }
    )
    return units


def end_to_end(res: dict, ops) -> dict[str, tuple[float, str]]:
    n = len(ops)
    ok = sum(1 for o in ops if o.ok)
    vals = {
        "setup_s": res["setup_s"],
        "ops_per_s": ok / res["wall_s"],
        "cpu_ms_per_op": 1000.0 * res["cpu_s"] / n,
        "peak_rss_mb": res["rss_mb"],
        "ok_pct": 100.0 * ok / n,
    }
    return {k: (v, END_TO_END[k]) for k, v in vals.items()}


def per_layer(run, res: dict) -> dict[str, tuple[float, str]]:
    from harness import median, read_event_log, sum_groups

    units = layer_units()
    vals: dict[str, float] = {k: 0.0 for k in units}
    ops = run.ops
    ok_ops = [o for o in ops if o.ok]
    ids = {f"op{o.idx}" for o in ops}
    vals["trace.ops_per_s"] = len(ok_ops) / res["wall_s"]
    for c in CLASSES[run.workload]:
        vals[f"{run.workload}.{c}.wall_ms_p50"] = median([o.ms for o in ok_ops if o.cls == c]) or 0.0
    vals.update({k: v for k, (v, _) in res["layer"].items()})

    t = run.tracer
    med = lambda xs: median(xs) or 0.0  # noqa: E731
    vals["fields.validate_ms_p50"] = med(t.durations_ms("fields.validate_chain", ids))
    vals["qlang.fold_ms_p50"] = med(t.durations_ms("qlang.fold", ids))
    vals["qlang.aggs.compile_ms_p50"] = med(t.durations_ms("qlang.aggs.compile", ids))
    renders = [s for s in t.spans if s["name"] == "qlang.renderers.render_rows" and s["op"] in ids]
    vals["qlang.renderers.render_ms_p50"] = med([(s["end"] - s["start"]) * 1000.0 for s in renders])
    vals["qlang.renderers.rows_per_op"] = sum(s.get("rows", 0) for s in renders) / len(ops)
    vals["catalog.v_scans_per_op"] = len(t.durations_ms("catalog.V", ids)) / len(ops)
    cache = [s for s in t.spans if s["name"] == "qlang.cache.execute" and s["op"] in ids]
    vals["qlang.cache.lookup_ms_p50"] = med([(s["end"] - s["start"]) * 1000.0 for s in cache if s.get("cache_hit")])
    vals["qlang.cache.fill_ms_p50"] = med([(s["end"] - s["start"]) * 1000.0 for s in cache if not s.get("cache_hit")])
    vals["store.read_ms_p50"] = med(t.durations_ms("store.read", ids))
    per_op: dict[str, float] = {}
    for name in ("value_index.load", "value_index.filter"):
        for s in t.spans:
            if s["name"] == name and s["op"] in ids:
                per_op[s["op"]] = per_op.get(s["op"], 0.0) + (s["end"] - s["start"]) * 1000.0
    vals["value_index.lookup_ms_p50"] = med(list(per_op.values()))
    compactions = [s.get("live", 0) for s in t.spans if s["name"] == "value_index.compact" and s["op"] in ids]
    vals["index_catchup.live_segments_max"] = max(compactions, default=0)
    http = [o.extra for o in ok_ops if "server_ms" in o.extra]
    vals["http_api.server_ms_p50"] = med([x["server_ms"] for x in http])
    vals["http_api.transport_ms_p50"] = med([x["client_ms"] - x["server_ms"] for x in http])
    vals["http_api.resp_kb_per_op"] = sum(x["bytes"] for x in http) / 1024.0 / max(1, len(http))
    vals["qlang.steps_per_chain"] = sum(x["steps"] for x in http) / max(1, len(http))

    # Spark's own accounting, per op job group, from the event log
    stats = read_event_log(os.path.join(run.tmp, "eventlog"))
    tot = sum_groups(stats, r"op\d+(\.build|\.action)?")
    n = len(ops)
    vals["spark.jobs_per_op"] = tot.jobs / n
    vals["spark.tasks_per_op"] = tot.tasks / n
    vals["spark.executor_cpu_ms_per_op"] = tot.cpu_ms / n
    vals["spark.gc_ms_per_op"] = tot.gc_ms / n
    vals["spark.shuffle_bytes_per_op"] = tot.shuffle_bytes / n
    vals["spark.spill_bytes_per_op"] = tot.spill_bytes / n
    vals["spark.sched_wait_ms_per_op"] = tot.sched_wait_ms / n
    planning = [s.get("planning_ms", 0.0) for s in renders] + [o.extra.get("planning_ms", 0.0) for o in ops]
    vals["spark.planning_ms_per_op"] = sum(planning) / n
    if run.workload == "analytics":
        for job in JOBS:
            mine = [o for o in ok_ops if o.cls == job]
            builds = [sum_groups(stats, rf"op{o.idx}\.build").jobs for o in mine]
            vals[f"{job}.eager_jobs"] = median(builds) or 0.0
    else:
        lookups = res["lookup_ops"]
        scanned = sum(stats[g].records_read for g in lookups if g in stats)
        vals["value_index.rows_scanned_per_hit"] = scanned / max(1, sum(lookups.values()))
    return {k: (float(v), units[k]) for k, v in vals.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("scalligraph_spark", "BENCHMARK.json") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the checkout lacks {missing}; run from a full checkout", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(DATA, "sf0.1")):
        print(f"perfbench: no test data under {DATA} (set PERFBENCH_DATA)", file=sys.stderr)
        return 2

    # epoch-millis renderings of naive timestamps must not depend on the host zone
    os.environ["TZ"] = "UTC"
    time.tzset()
    warnings.simplefilter("ignore")
    sys.path[:0] = [HERE, ROOT]
    from harness import Run, emit, median

    import wl_analytics
    import wl_churn

    mod = {"churn": wl_churn, "analytics": wl_analytics}[args.workload]
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        try:
            res = mod.run(run, DATA)
        finally:
            run.stop()
        if run.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            run.tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
            metrics = per_layer(run, res)
        else:
            metrics = end_to_end(res, run.ops)
        out = emit(run, metrics)
    except Exception:
        traceback.print_exc()
        run.cleanup()
        return 1
    for f in run.failures:
        print(f"check failed: {f}", file=sys.stderr)
    by_class: dict[str, list[float]] = {}
    for o in run.ops:
        by_class.setdefault(o.cls, []).append(o.ms)
    print(
        "perfbench median ms per class: " + ", ".join(f"{c}={median(v):.0f}" for c, v in sorted(by_class.items())),
        file=sys.stderr,
    )
    run.cleanup()
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
