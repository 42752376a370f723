"""How each metric is computed from a run. Names, units and bounds are
read from BENCHMARK.json at the root of the checkout.

Every workload prints every metric, so each name is defined for each of
them. Times are only used where every workload spends time in the layer;
a layer that one workload bypasses on purpose (``storage`` on domain_io,
``sources``/``sinks`` on ingest_refresh) reports counts, ratios and
shares, which are then 0 there. Per-op seconds are in the run record.
"""

from __future__ import annotations

import json
import os

import harness as H

with open(os.path.join(H.ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
SHARE_LAYERS = [n.removeprefix("self_share.") for n in PER_LAYER if n.startswith("self_share.")]


def _group(samples) -> dict[str, list]:
    out: dict[str, list] = {}
    for s in samples:
        out.setdefault(s.op, []).append(s)
    return out


def _by_op(samples, attr) -> dict[str, list[float]]:
    return {op: [getattr(s, attr) for s in ss] for op, ss in _group(samples).items()}


def _gm_of_medians(samples, attr) -> float:
    return H.geomean([H.median(v) for v in _by_op(samples, attr).values()])


def _busy_throughput(samples) -> tuple[float, float]:
    """(correct ops per second of op time, geometric mean over read-op
    types of each type's median latency). Used to compare traced with
    untraced ops of the same run, whose loop wall times are mixed."""
    busy = sum(s.latency for s in samples)
    ok = sum(1 for s in samples if s.ok)
    return ok / busy, _gm_of_medians(samples, "latency")


def summarize(ctx, e2e: dict) -> tuple[dict, dict]:
    """The result line and the run record's per-op detail."""
    samples = ctx.samples
    untraced = [s for s in samples if not s.traced]
    traced = [s for s in samples if s.traced and s.op != "ingest_batch"]
    if not ctx.trace:  # a traced loop's wall time mixes traced and untraced ops
        # correct ops (ingest batches count as ops) per second of loop wall time
        e2e["ops_per_s"] = sum(1 for s in untraced if s.ok) / ctx.record["loop_wall_s"]
    reads = [s for s in untraced if s.op != "ingest_batch"]
    e2e["latency_p50_s"] = _gm_of_medians(reads, "latency")
    attempted = ctx.setup_checks[0] + len(samples)
    failed = ctx.setup_checks[1] + sum(1 for s in samples if not s.ok)
    failed_ops = {s.op for s in samples if not s.ok}
    failed_ops |= {c.rsplit(":", 1)[-1] for c in ctx.record.get("failed_checks", [])}
    detail = {
        "failed_op_share": failed / attempted,
        "failed_ops": sorted(failed_ops),
        "end_to_end": e2e,
        "per_op_latency_s": {k: sorted(v) for k, v in _by_op(untraced, "latency").items()},
    }
    if ctx.trace:
        metrics = _per_layer(ctx, e2e, traced, reads)
        detail["per_op_traced"] = {
            op: {a: H.median([getattr(s, a) for s in ss])
                 for a in ("build_s", "plan_s", "collect_s")}
            for op, ss in _group(traced).items()
        }
        detail["self_time_s"] = ctx.tracer.self_times()
        detail["per_layer"] = metrics
        units = PER_LAYER
    else:
        metrics = {n: e2e[n] for n in END_TO_END}
        units = END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }
    return result, detail


def _per_layer(ctx, e2e, traced, untraced) -> dict:
    m = {n: 0.0 for n in PER_LAYER}
    m.update({k: v for k, v in ctx.layer.items() if k in m})
    reads = [s for s in traced if s.plan_s > 0]
    m["op.build_s"] = _gm_of_medians(traced, "build_s")
    m["spark.plan_s"] = _gm_of_medians(reads, "plan_s")
    m["spark.collect_s"] = _gm_of_medians(traced, "collect_s")
    m["spark.jobs_per_op"] = sum(s.jobs for s in traced) / len(traced)
    m["spark.tasks_per_op"] = sum(s.tasks for s in traced) / len(traced)
    m["spark.failed_tasks"] = sum(s.failed_tasks for s in traced)
    t_ops, t_lat = _busy_throughput(traced)
    u_ops, u_lat = _busy_throughput(untraced)
    m["trace.ops_per_s_ratio"] = t_ops / u_ops
    m["trace.latency_p50_ratio"] = t_lat / u_lat
    m["storage.build_setup_share"] = ctx.layer.get("storage.build_s", 0.0) / e2e["setup_s"]
    served = [s.served for s in traced if s.served is not None]
    m["storage.served_share"] = sum(served) / len(served) if served else 0.0
    self_t = ctx.tracer.self_times()
    op_time = sum(s.latency for s in traced) or 1.0
    m["storage.serve_check_share"] = self_t.get("storage.serve_check", 0.0) / op_time
    roots = sum(sp["end"] - sp["start"] for sp in ctx.tracer.spans
                if sp["parent"] is None and sp["name"] in ("op", "ingest.batch"))
    for name in SHARE_LAYERS:
        m[f"self_share.{name}"] = self_t.get(name, 0.0) / roots if roots else 0.0
    for op, ss in _group(traced).items():
        if f"spark.jobs.{op}" in m:
            m[f"spark.jobs.{op}"] = H.median([s.jobs for s in ss])
            m[f"spark.tasks.{op}"] = H.median([s.tasks for s in ss])
    for k in ("sources.partitions", "sources.rows_per_s", "sinks.bytes_per_record"):
        if k in ctx.record:
            m[k] = ctx.record[k]
    return m
