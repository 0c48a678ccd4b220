"""Traced replays and the per-layer metrics read from them.

Per span, from the span itself and the tasks of its Spark job group:

- ``<span>.self_s``: span wall minus its child spans;
- ``<span>.shuffle_write_mb``, ``<span>.spill_mb`` (disk);
- ``<span>.python_worker_s``, ``<span>.python_sent_mb``: Arrow UDF time
  and bytes sent to Python workers;
- ``<span>.task_skew``: max / median task time in the span's dominant stage;
- ``<span>.busy_share``: task time / (span wall x cores).

A span the workload does not run reports 0 for each (the layer did no
work). Counts repeat exactly for a seed; times are medians over replays.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

from workloads import PIPELINE_SPANS, SIMILARITY_SPANS, SSJOIN_STAGES

SPAN_METRICS = {
    "self_s": ("s", "lower"),
    "shuffle_write_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
    "python_worker_s": ("s", "lower"),
    "python_sent_mb": ("MB", "lower"),
    "task_skew": ("ratio", "lower"),
    "busy_share": ("share", "higher"),
}
PIPELINE_STAGES = (
    "keymap", "stage_a_pairs", "stage_a_survivors", "signatures",
    "stage_b_pairs", "stage_c_pairs", "confirmed_pairs", "clusters",
)
FUNNEL = {
    "stage_a.survivor_share": ("share", "lower"),
    "stage_a.exact_pairs": ("count", "higher"),
    "stage_b.band_rows": ("count", "lower"),
    "stage_b.buckets_dropped": ("count", "lower"),
    "stage_b.candidates": ("count", "lower"),
    "stage_b.verified": ("count", "higher"),
    "stage_b.verify_yield": ("share", "higher"),
    "stage_c.candidates": ("count", "lower"),
    "stage_c.buckets_dropped": ("count", "lower"),
    "stage_c.confirmed": ("count", "higher"),
    "stage_c.confirm_yield": ("share", "higher"),
    "clusters.edges": ("count", "higher"),
    "clusters.count": ("count", "lower"),
    "similarity.token_bag.pairs": ("count", "higher"),
    **{f"similarity.ssjoin.{s}": ("count", "lower") for s in SSJOIN_STAGES[:3]},
    "similarity.ssjoin.verified": ("count", "higher"),
    "similarity.ssjoin.verified_missed_by_filters": ("count", "lower"),
}
SETUP_PARTS = ("session_s", "generate_s", "golden_s", "load_s", "warmup_s")

# name -> (unit, better), in report order
LAYER_METRICS: dict[str, tuple[str, str]] = {
    "kernel.signature_us_per_doc": ("us", "lower"),
    **{f"{span}.{m}": ub for span in PIPELINE_SPANS + SIMILARITY_SPANS
       for m, ub in SPAN_METRICS.items()},
    **{f"pipeline.{st}_s": ("s", "lower") for st in PIPELINE_STAGES},
    "pipeline.spark_jobs": ("count", "lower"),
    "pipeline.spark_tasks": ("count", "lower"),
    **FUNNEL,
    "engine.peak_rss_mb": ("MB", "lower"),
    "trace.untraced_wall_s": ("s", "lower"),
    "trace.traced_wall_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    **{f"setup.{p}": ("s", "lower") for p in SETUP_PARTS},
}


@dataclass
class Replays:
    run_ids: list = field(default_factory=list)
    walls: list = field(default_factory=list)
    counts: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0


def replay_for_seconds(wl, tracer, seconds: float) -> Replays:
    """Traced replays of the workload, checked like timed runs, until
    ``seconds`` have passed (at least one)."""
    r = Replays()
    t0 = time.monotonic()
    while r.attempted == 0 or time.monotonic() - t0 < seconds:
        run_id = f"traced{r.attempted}"
        r.attempted += 1
        start = time.monotonic()
        out, counts = wl.replay(tracer, run_id)
        wall = time.monotonic() - start
        q = wl.check(out)
        wl.reset()
        if not q.ok:
            r.failed += 1
            continue
        r.run_ids.append(run_id)
        r.walls.append(wall)
        r.counts.append(counts)
    return r


def per_layer(wl, loop, tracer, replays: Replays, groups: dict, setup: dict,
              kernel_us: float, cores: int) -> dict[str, float]:
    med = statistics.median
    out = dict.fromkeys(LAYER_METRICS, 0.0)
    out["kernel.signature_us_per_doc"] = kernel_us

    spans = {(s.run_id, s.name): s for s in tracer.spans}
    for name in wl.spans:
        rows = []
        for run_id in replays.run_ids:
            span = spans[(run_id, name)]
            g = groups.get(span.group)
            rows.append({
                "self_s": tracer.self_seconds(span),
                "shuffle_write_mb": g.shuffle_write_bytes / 2**20 if g else 0.0,
                "spill_mb": g.disk_spill_bytes / 2**20 if g else 0.0,
                "python_worker_s": g.py_run_ms / 1000.0 if g else 0.0,
                "python_sent_mb": g.py_sent_bytes / 2**20 if g else 0.0,
                "task_skew": g.task_skew() if g else 1.0,
                "busy_share": g.task_ms / 1000.0 / (span.wall_s * cores) if g else 0.0,
            })
        for m in SPAN_METRICS:
            out[f"{name}.{m}"] = med(r[m] for r in rows)

    for st in PIPELINE_STAGES:
        vals = [s[st] for s in loop.stage_s if st in s]
        if vals:
            out[f"pipeline.{st}_s"] = med(vals)
    run_groups = [groups[g] for g in loop.run_ids if g in groups]
    if run_groups:
        out["pipeline.spark_jobs"] = med(g.jobs for g in run_groups)
        out["pipeline.spark_tasks"] = med(g.tasks for g in run_groups)
    for k in replays.counts[0] if replays.counts else ():
        out[k] = med(c[k] for c in replays.counts)

    out["engine.peak_rss_mb"] = max(loop.peaks)
    out["trace.untraced_wall_s"] = med(loop.walls)
    out["trace.traced_wall_s"] = med(replays.walls)
    out["trace.overhead_s"] = out["trace.traced_wall_s"] - out["trace.untraced_wall_s"]
    for p in SETUP_PARTS:
        out[f"setup.{p}"] = setup.get(p, 0.0)
    return out
