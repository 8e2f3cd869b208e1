"""Per-layer metrics of a traced run, and its trace artifact.

Layer times that only one workload exercises (landing, planes, the
monthly job's steps) are reported as shares of the set-up or pass they
belong to, so a bypassed layer reads 0 % rather than a constant time.
Counts are per warm pass (median over the traced warm passes) unless
named ``cold``.
"""

from __future__ import annotations

import os
import statistics

from spans import COUNTERS, PHASE_KEYS

# per-key counts that should repeat exactly from pass to pass
REPEATABLE = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes")


def _pass_totals(per: list) -> dict[str, float]:
    tot = dict.fromkeys(("build_s", "exec_s") + COUNTERS + PHASE_KEYS, 0.0)
    for _, _, rec in per:
        if rec is None:
            continue
        for k in tot:
            tot[k] += rec.get(k, 0.0)
    return tot


def _unstable_keys(traced: list) -> dict[str, dict]:
    """Keys whose repeatable counts differ between traced warm passes,
    with each differing count's [min, max]."""
    seen: dict[str, dict[str, list]] = {}
    for _, per in traced:
        for name, _, rec in per:
            if rec is None:
                continue
            for c in REPEATABLE:
                seen.setdefault(name, {}).setdefault(c, []).append(rec[c])
    out = {}
    for name, counts in seen.items():
        spread = {c: [min(v), max(v)] for c, v in counts.items() if min(v) != max(v)}
        if spread:
            out[name] = spread
    return out


def per_layer(args, wl, tracer, d: dict, root: str) -> dict[str, tuple[float, str]]:
    med = statistics.median
    warm = [_pass_totals(per) for _, per in d["traced"]]
    w = {k: med(t[k] for t in warm) for k in warm[0]}
    cold_planes = [(label, sec, name) for name, _, rec in d["cold_per"] if rec
                   for label, sec in rec.get("planes", []) if not label.startswith("fixture_land:")]
    untraced_wall = [wall for wall, _ in d["untraced"]]
    traced_wall = [wall for wall, _ in d["traced"]]
    overhead = med(traced_wall) - med(untraced_wall)

    step_pct = dict.fromkeys(("checks", "tags", "publish", "views"), 0.0)
    sink_files = sink_bytes = calls = retries = 0
    if hasattr(wl, "sink_counts"):
        sink_files, sink_bytes = wl.sink_counts()
        calls, retries = wl.per_pass_fetch_counts()
        share = {k: [] for k in step_pct}
        for wall, per in d["untraced"]:
            by = {"checks": 0.0, "tags": 0.0, "publish": 0.0, "views": 0.0}
            for name, el, _ in per:
                by[{"run_ingest": "checks", "fetch_and_tag_ingest": "tags",
                    "publish_views": "publish"}.get(name, "views")] += el
            for k in by:
                share[k].append(100.0 * by[k] / wall)
        step_pct = {k: med(v) for k, v in share.items()}

    unstable = _unstable_keys(d["traced"])
    metrics = {
        "session.import_s": (d["import_s"], "s"),
        "session.start_s": (med(d["start"]), "s"),
        "landing.share_pct": (100.0 * med(d["landing"]) / med(d["setup"]), "%"),
        "landing.bytes_written": (d["land_bytes"], "B"),
        "landing.files_written": (d["land_files"], "count"),
        "construct.build_s": (w["build_s"], "s"),
        "construct.analysis_s": (w["analysis_s"], "s"),
        "construct.optimize_s": (w["optimization_s"], "s"),
        "construct.planning_s": (w["planning_s"], "s"),
        "exec.s": (w["exec_s"], "s"),
        "exec.jobs": (w["jobs"], "count"),
        "exec.stages": (w["stages"], "count"),
        "exec.tasks": (w["tasks"], "count"),
        "exec.shuffle_read_bytes": (w["shuffle_read_bytes"], "B"),
        "exec.shuffle_write_bytes": (w["shuffle_write_bytes"], "B"),
        "exec.executor_run_s": (w["executor_run_s"], "s"),
        "exec.executor_cpu_s": (w["executor_cpu_s"], "s"),
        "exec.gc_s": (w["gc_s"], "s"),
        "exec.unstable_keys": (len(unstable), "count"),
        "planes.builds": (len(cold_planes), "count"),
        "planes.cold_share_pct": (100.0 * sum(s for _, s, _ in cold_planes) / d["cold_s"], "%"),
        "kernel.rows_from_python": (w["kernel_rows_from_python"], "count"),
        "kernel.bytes_to_python": (w["kernel_bytes_to_python"], "B"),
        "kernel.bytes_from_python": (w["kernel_bytes_from_python"], "B"),
        "ingest.checks_pct": (step_pct["checks"], "%"),
        "ingest.tags_pct": (step_pct["tags"], "%"),
        "ingest.publish_pct": (step_pct["publish"], "%"),
        "ingest.views_pct": (step_pct["views"], "%"),
        "sink.bytes_written": (sink_bytes, "B"),
        "sink.files_written": (sink_files, "count"),
        "source.fetch_calls": (calls, "count"),
        "source.fetch_retries": (retries, "count"),
        "query.p50_s": (d["p50"], "s"),
        "memory.peak_rss_mb": (d["peak_mb"], "MB"),
        "trace.overhead_s": (overhead, "s"),
        "trace.overhead_pct": (100.0 * overhead / med(untraced_wall), "%"),
    }

    def keyrecs(per):
        return {name: {"seconds": el, **(rec or {})} for name, el, rec in per}

    out_dir = os.path.join(root, ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    tracer.close(0)
    tracer.dump(os.path.join(out_dir, f"trace_{args.workload}_{args.seed}.json"), {
        "workload": args.workload, "seed": args.seed,
        "setup_s": d["setup"], "session_start_s": d["start"], "landing_s": d["landing"],
        "fixture_cache": d["cache"],
        "cold_pass_s": d["cold_s"], "untraced_warm_pass_s": untraced_wall,
        "traced_warm_pass_s": traced_wall,
        "planes": [{"label": lb, "seconds": s, "trigger": k} for lb, s, k in cold_planes],
        "cold_keys": keyrecs(d["cold_per"]),
        "warm_keys": [keyrecs(per) for _, per in d["traced"]],
        "unstable_keys": unstable,
        # traced key spans against their pass walls, and traced against
        # untraced pass medians (the difference is trace.overhead_s)
        "reconcile": {
            "traced_pass_s": traced_wall,
            "traced_key_sum_s": [sum(el for _, el, _ in per) for _, per in d["traced"]],
            "untraced_pass_median_s": med(untraced_wall),
            "traced_pass_median_s": med(traced_wall)},
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })
    return metrics
