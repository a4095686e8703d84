"""Per-layer metrics from the traced passes, and the trace file.

Times and counts are per pass (totals over the traced passes divided by
their number); ``*_peak``, ``exec.task_skew`` and ``versioning.files_live``
are the largest value seen. Jobs count toward a span when they ran under
its job group or under one nested in it.
"""

from __future__ import annotations

import json
import os
import statistics

from layers import PER_LAYER


def compute(ctx, wl, setups: list[dict], walls: dict, n_passes: int, cores: int) -> dict:
    tr = ctx.tracer
    spans = tr.spans
    by: dict[str, list[dict]] = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)

    def dur(name: str) -> float:
        return sum(s["dur_s"] for s in by.get(name, []))

    def jobs(name: str) -> int:
        return sum(d["jobs"] for s in by.get(name, []) for d in tr.descendants(s))

    def stages(name: str) -> list[dict]:
        return [st for s in by.get(name, []) for st in s["stages"]]

    def field(name: str, key: str) -> list[float]:
        return [s[key] for s in by.get(name, []) if key in s]

    n = n_passes
    exec_stages = stages("exec")
    exec_s = dur("exec")
    run_s = sum(st["run_s"] for st in exec_stages)
    skews = [tr.task_skew(st) for st in exec_stages if st["tasks"] >= 2]
    ops = by.get("op", [])
    bytes_written = sum(field("op", "bytes_written"))
    change_bytes = sum(field("op", "change_bytes"))
    all_stages = [st for s in spans for st in s["stages"]]
    m = {
        "session.start_s": statistics.median(s["start_s"] for s in setups),
        "session.warmup_s": statistics.median(s["warmup_s"] for s in setups),
        "plans.build_s": dur("plans.build") / n,
        "plans.build_jobs": jobs("plans.build") / n,
        "plans.build_share": dur("plans.build") / sum(walls["traced"]),
        "sources.load_calls": len(by.get("sources.load", [])) / n,
        "sources.load_s": dur("sources.load") / n,
        "sources.load_jobs": jobs("sources.load") / n,
        "sources.scan_input_mb": sum(st["input_mb"] for st in all_stages) / n,
        "catalyst.plan_s": dur("catalyst.plan") / n,
        "catalyst.exchanges": sum(field("catalyst.plan", "exchanges")) / n,
        "catalyst.broadcast_joins": sum(field("catalyst.plan", "broadcast_joins")) / n,
        "exec.s": exec_s / n,
        "exec.jobs": jobs("exec") / n,
        "exec.stages": len(exec_stages) / n,
        "exec.tasks": sum(st["tasks"] for st in exec_stages) / n,
        "exec.executor_run_s": run_s / n,
        "exec.executor_cpu_s": sum(st["cpu_s"] for st in exec_stages) / n,
        "exec.core_util": run_s / (exec_s * cores) if exec_s else 0.0,
        "exec.shuffle_read_mb": sum(st["shuffle_read_mb"] for st in exec_stages) / n,
        "exec.shuffle_write_mb": sum(st["shuffle_write_mb"] for st in exec_stages) / n,
        "exec.spill_mb": sum(st["spill_mb"] for st in exec_stages) / n,
        "exec.task_skew": max(skews, default=0.0),
        "cache.persists": sum(field("cache.release", "persists")) / n,
        "cache.mem_mb_peak": max(field("cache.release", "mem_mb"), default=0.0),
        "cache.release_s": dur("cache.release") / n,
        "pipelines.run_s": dur("pipelines.run") / n,
        "pipelines.jobs": jobs("pipelines.run") / n,
        "streaming.upsert_s": dur("streaming.upsert") / n,
        "streaming.upsert_jobs": jobs("streaming.upsert") / n,
        "versioning.commit_s": dur("versioning.commit") / n,
        "versioning.files_live": max(field("op", "files_live"), default=0),
        "sinks.bytes_written_mb": bytes_written / 2**20 / n,
        "sinks.files_written": sum(field("op", "files_written")) / n,
        "sinks.write_amp": bytes_written / change_bytes if change_bytes else 0.0,
        "sources.readback_s": dur("sources.readback") / n,
        "trace.overhead_ratio": statistics.median(walls["traced"]) / statistics.median(walls["untraced_after"]),
    }
    missing = {x.name for x in PER_LAYER} ^ set(m)
    if missing:
        raise AssertionError(f"per-layer metrics out of sync with layers.py: {sorted(missing)}")
    if not ops:
        raise AssertionError("traced passes recorded no op spans")
    return m


def op_breakdown(tr) -> list[dict]:
    """One row per traced op: its wall and, per layer call under it, the
    summed time, self time and Spark jobs."""
    rows = []
    for op in (s for s in tr.spans if s["name"] == "op"):
        layers: dict[str, dict] = {}
        for d in tr.descendants(op)[1:]:
            row = layers.setdefault(d["name"], {"calls": 0, "s": 0.0, "self_s": 0.0, "jobs": 0})
            row["calls"] += 1
            row["s"] += d["dur_s"]
            row["self_s"] += d["self_s"]
            row["jobs"] += d["jobs"]
        rows.append({
            "op": op["op"], "pass": op["pass"], "s": op["dur_s"],
            "self_s": op["self_s"], "jobs": op["jobs"], "layers": layers,
        })
    return rows


def write_trace(out_dir: str, wl, args, tr, per_op: list[dict], layer: dict, detail: dict) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{wl.name}-seed{args.seed}.json")
    doc = {
        "workload": wl.name,
        "seed": args.seed,
        "detail": detail,
        "per_layer": [
            {"name": x.name, "unit": x.unit, "value": layer[x.name],
             "moves": x.moves, "on": x.on, "meaning": x.meaning}
            for x in PER_LAYER
        ],
        "ops": per_op,
        "op_breakdown": op_breakdown(tr),
        "spans": tr.spans,
    }
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, default=str)
    return path
