"""The benchmark's metric catalogue.

``END_TO_END`` are the numbers a user of the engine sees; an untraced run
(``--trace 0``) reports exactly these, and ``DETAIL_ONLY`` beside them. ``PER_LAYER`` are measured by the
traced run (``--trace 1``), which records a span around each call the
benchmark makes into one of the engine's layers. Layers are named after
the engine's modules.

Each per-layer metric carries the prediction written down before any
optimisation is measured: which end-to-end metric it should move, on
which workload, and where it should have little or no effect. A layer
that a workload never calls reports 0 there.

``BENCHMARK.json`` at the repository root lists the same metrics;
``python3 perfbench/layers.py`` prints the ``end_to_end``/``per_layer``
blocks it must contain.
"""

from __future__ import annotations

import json
from dataclasses import dataclass


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str  # "lower" | "higher"
    meaning: str
    bound: float | None = None  # end-to-end only: allowed worsening share
    moves: str = ""  # per-layer only: the end-to-end metric(s) it moves
    on: str = ""  # per-layer only: the workload(s) where, and where not


END_TO_END = (
    Metric("setup_s", "s", "lower", "registry import, plus the median of three session starts each with an untimed warm-up query, plus the workload's input prep", bound=0.25),
    Metric("pass_wall_s", "s", "lower", "median wall time of one full pass over the workload's op list", bound=0.24),
    Metric("op_p50_s", "s", "lower", "median per-op latency", bound=0.24),
    Metric("ok_op_ratio", "ratio", "higher", "ops that neither raised nor failed their output check, over ops attempted (1 - failed_op_ratio)", bound=0.01),
    Metric("peak_rss_mb", "MB", "lower", "peak resident memory (VmHWM) of the driver JVM plus the Python client", bound=0.1),
)

# Printed in the detail line of every untraced run but not gated: with at
# most a dozen ops per run the tail is the slowest op of one cold pass,
# which moved by 25-45% between identical runs; a failed_op_ratio of 0
# cannot carry a relative bound (ok_op_ratio gates the same count).
DETAIL_ONLY = (
    Metric("op_tail_s", "s", "lower", "per-op latency at the highest percentile with at least 10 samples beyond it; the maximum below 21 ops (percentile and count beside it)"),
    Metric("failed_op_ratio", "ratio", "lower", "ops that raised or failed their output check, over ops attempted"),
)

_ALL = "star_dashboard, llm_curation, incremental_load"

PER_LAYER = (
    Metric("session.start_s", "s", "lower", "median of the three SparkSession starts", moves="setup_s", on=_ALL),
    Metric("session.warmup_s", "s", "lower", "median of the three untimed warm-up queries", moves="setup_s", on=_ALL),
    Metric("plans.build_s", "s", "lower", "registry builder calls per pass, eager jobs included", moves="pass_wall_s", on="llm_curation (less on star_dashboard)"),
    Metric("plans.build_jobs", "count", "lower", "Spark jobs run inside builders per pass (schema inference, persists, collect loops)", moves="pass_wall_s", on="llm_curation (less on star_dashboard)"),
    Metric("plans.build_share", "ratio", "lower", "builder time over pass wall", moves="pass_wall_s", on="llm_curation (less on star_dashboard)"),
    Metric("sources.load_calls", "count", "lower", "sources.tables.load_table calls per pass", moves="pass_wall_s, op_p50_s", on="star_dashboard (little on llm_curation)"),
    Metric("sources.load_s", "s", "lower", "time inside load_table per pass", moves="pass_wall_s, op_p50_s", on="star_dashboard (little on llm_curation)"),
    Metric("sources.load_jobs", "count", "lower", "Spark jobs run inside load_table per pass (schema inference)", moves="pass_wall_s, op_p50_s", on="star_dashboard (little on llm_curation)"),
    Metric("sources.scan_input_mb", "MB", "lower", "stage input bytes read per pass", moves="pass_wall_s, op_p50_s", on="star_dashboard (little on llm_curation)"),
    Metric("catalyst.plan_s", "s", "lower", "executedPlan (optimize plus physical planning) per pass", moves="op_p50_s", on="star_dashboard"),
    Metric("catalyst.exchanges", "count", "lower", "Exchange nodes in the physical plans per pass (tools/plan_fingerprints.json counter)", moves="op_p50_s; exec.shuffle_*", on="star_dashboard"),
    Metric("catalyst.broadcast_joins", "count", "higher", "BroadcastHashJoin nodes per pass (tools/plan_fingerprints.json counter)", moves="op_p50_s", on="star_dashboard"),
    Metric("exec.s", "s", "lower", "final execution (result materialisation) per pass", moves="op_tail_s, pass_wall_s", on="llm_curation (dedup_jaccard_prefix), star_dashboard"),
    Metric("exec.jobs", "count", "lower", "Spark jobs of final execution per pass", moves="op_tail_s, pass_wall_s", on="llm_curation, star_dashboard"),
    Metric("exec.stages", "count", "lower", "completed stages of final execution per pass", moves="op_tail_s, pass_wall_s", on="llm_curation, star_dashboard"),
    Metric("exec.tasks", "count", "lower", "tasks of final execution per pass", moves="op_tail_s, pass_wall_s", on="llm_curation, star_dashboard"),
    Metric("exec.executor_run_s", "s", "lower", "summed task executorRunTime of final execution per pass", moves="op_tail_s, pass_wall_s", on="llm_curation, star_dashboard"),
    Metric("exec.executor_cpu_s", "s", "lower", "summed task executorCpuTime of final execution per pass", moves="op_tail_s, pass_wall_s", on="llm_curation, star_dashboard"),
    Metric("exec.core_util", "ratio", "higher", "executor run time over (exec.s x cores)", moves="pass_wall_s", on="star_dashboard"),
    Metric("exec.shuffle_read_mb", "MB", "lower", "shuffle bytes read by final execution per pass", moves="op_tail_s, pass_wall_s", on="llm_curation, star_dashboard"),
    Metric("exec.shuffle_write_mb", "MB", "lower", "shuffle bytes written by final execution per pass", moves="op_tail_s, pass_wall_s", on="llm_curation, star_dashboard"),
    Metric("exec.spill_mb", "MB", "lower", "memory plus disk bytes spilled by final execution per pass", moves="op_tail_s", on="llm_curation"),
    Metric("exec.task_skew", "ratio", "lower", "worst stage max/median task run time in final execution (stages of 2+ tasks)", moves="op_tail_s", on="llm_curation (dedup_jaccard_prefix)"),
    Metric("cache.persists", "count", "lower", "tracked persists held at release per pass", moves="peak_rss_mb, pass_wall_s", on="llm_curation (zero on star_dashboard)"),
    Metric("cache.mem_mb_peak", "MB", "lower", "largest storage memory in use at any op's release", moves="peak_rss_mb", on="llm_curation (zero on star_dashboard)"),
    Metric("cache.release_s", "s", "lower", "cache.release_tracked time per pass", moves="pass_wall_s", on="llm_curation (zero on star_dashboard)"),
    Metric("pipelines.run_s", "s", "lower", "pipelines.run_events_rollup_once time per pass", moves="op_p50_s", on="incremental_load (absent elsewhere)"),
    Metric("pipelines.jobs", "count", "lower", "Spark jobs inside run_events_rollup_once per pass", moves="op_p50_s", on="incremental_load (absent elsewhere)"),
    Metric("streaming.upsert_s", "s", "lower", "streaming.pipeline.foreach_batch_upsert apply time per pass", moves="op_p50_s", on="incremental_load (absent elsewhere)"),
    Metric("streaming.upsert_jobs", "count", "lower", "Spark jobs inside the upsert per pass", moves="op_p50_s", on="incremental_load (absent elsewhere)"),
    Metric("versioning.commit_s", "s", "lower", "sources.versioning.commit_snapshot time per pass", moves="op_tail_s", on="incremental_load (absent elsewhere)"),
    Metric("versioning.files_live", "count", "lower", "data files in the latest snapshot manifest at the end of the pass", moves="op_tail_s", on="incremental_load (absent elsewhere)"),
    Metric("sinks.bytes_written_mb", "MB", "lower", "bytes of the files the batches left behind per pass (rollup target, audit log, orders target, snapshot data)", moves="op_tail_s, pass_wall_s", on="incremental_load (absent elsewhere)"),
    Metric("sinks.files_written", "count", "lower", "data files the batches left behind per pass", moves="op_tail_s, pass_wall_s", on="incremental_load (absent elsewhere)"),
    Metric("sinks.write_amp", "ratio", "lower", "bytes written over bytes of the batches' change data", moves="op_tail_s, pass_wall_s", on="incremental_load (absent elsewhere)"),
    Metric("sources.readback_s", "s", "lower", "checked read-back of the three targets per pass", moves="op_p50_s", on="incremental_load (absent elsewhere)"),
    Metric("trace.overhead_ratio", "ratio", "lower", "traced over untraced pass_wall_s", moves="none", on=_ALL),
)


def benchmark_blocks() -> dict:
    """The ``end_to_end`` and ``per_layer`` blocks of BENCHMARK.json."""
    return {
        "end_to_end": [
            {"name": m.name, "unit": m.unit, "better": m.better, "bound": m.bound}
            for m in END_TO_END
        ],
        "per_layer": [
            {"name": m.name, "unit": m.unit, "better": m.better} for m in PER_LAYER
        ],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_blocks(), indent=2))
