"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload star_dashboard --seed 1 --seconds 10 --trace 0

Load shape: a closed loop, one client thread in one process, driving an
in-process ``local[N]`` session (N = min(4, cores available)) built by the
engine's own ``session.get_spark`` (AQE on, ANSI off, UTC) with
``N`` shuffle partitions.

A run:

1. generates the input tables (``datagen``, independent of the seed);
2. starts the session three times, each followed by untimed warm-up
   queries, then runs the workload's input prep once; ``setup_s`` is the
   registry import plus the median start-and-warm-up plus the prep (the
   first start also launches the JVM, which the median leaves out);
3. runs ``max(1, round(seconds / nominal pass time))`` passes over the
   workload's op list (one at ``--seconds 10``), so the sample count
   depends on ``--seconds`` alone, never on how fast this run went;
4. checks every op's output (see ``workloads``) outside the timed region.

With ``--trace 1`` the passes run three times -- untraced, traced,
untraced -- and the run reports the per-layer metrics instead; spans and
the per-op breakdown go to ``.bench_build/perfbench/traces/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The line before it
holds the host record and the details behind the metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
CORES_MAX = 4


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=0.01,
                   help="table scale factor (1.0 = 6M lineitems)")
    return p.parse_args(argv)


def tail(values: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least 10 samples beyond
    it: ``(value, percentile, samples beyond)``. Below 21 samples that
    percentile would not exceed the median, so the maximum is reported
    instead (100th percentile, 0 beyond)."""
    xs = sorted(values)
    n = len(xs)
    if n <= 20:
        return xs[-1], 100.0, 0
    return xs[n - 11], 100.0 * (n - 10) / n, 10


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests (field 8)."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d[:8]) if len(d) > 7 and sum(d[:8]) else 0.0


def peak_rss_mb(spark) -> float:
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def start_session(cores: int, tmp: str):
    from ssg_etl_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            # Spark's stock 1g driver heap, committed up front: with a heap
            # that grows on demand the JVM's peak RSS varied by 15% between
            # identical runs; a fixed heap leaves about 2%.
            "spark.driver.memory": "1g",
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.driver.extraJavaOptions": f"-Xms1g -Dderby.system.home={tmp}",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM pyspark launched to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)


def host_record(spark, cores: int) -> dict:
    import duckdb
    import pyspark

    conf = spark.conf
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "spark": {
            "master": spark.sparkContext.master,
            "cores": cores,
            "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
            "aqe": conf.get("spark.sql.adaptive.enabled"),
            "ansi": conf.get("spark.sql.ansi.enabled"),
            "session_tz": conf.get("spark.sql.session.timeZone"),
        },
    }


def run(args) -> int:
    import workloads as wl_mod

    all_w = wl_mod.workloads()
    if args.workload not in all_w:
        print(f"unknown workload {args.workload!r}; choose from {sorted(all_w)}", file=sys.stderr)
        return 2
    wl = all_w[args.workload]
    load_start, cpu_start = os.getloadavg(), cpu_times()
    cores = max(1, min(CORES_MAX, len(os.sched_getaffinity(0))))
    n_passes = max(1, round(args.seconds / wl.nominal_pass_s))

    build = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(build, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # Every JVM the run starts (spark-submit's launcher and the Spark driver)
    # keeps its temporary files in the run's directory, and none writes
    # hsperfdata under the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    try:
        return _run(args, wl, wl_mod, cores, n_passes, load_start, cpu_start, build, work, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, wl, wl_mod, cores, n_passes, load_start, cpu_start, build, work, tmp) -> int:
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    import duckdb

    import datagen
    import layers
    from spans import Tracer

    data_dir = os.path.join(work, "data")
    t = time.perf_counter()
    datagen.generate(data_dir, args.scale)
    gen_s = time.perf_counter() - t

    t = time.perf_counter()
    from ssg_etl_spark.cache import release_tracked
    from ssg_etl_spark.plans.registry import load_all

    registry = load_all(include_extra=True)
    import_s = time.perf_counter() - t
    # Untraced passes give the end-to-end metrics. A traced run then
    # repeats them traced and once more untraced: the overhead ratio
    # compares the traced passes with the untraced ones after them, which
    # are as warm.
    groups = ["untraced", "traced", "untraced_after"] if args.trace else ["untraced"]
    spark = None
    try:
        setups = []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(cores, tmp)
            t1 = time.perf_counter()
            for q in wl_mod.WARMUP_QUERIES:
                registry[q].builder(spark, data_dir).write.format("noop").mode("overwrite").save()
            release_tracked()
            setups.append({"start_s": t1 - t0, "warmup_s": time.perf_counter() - t1})
        ctx = wl_mod.Ctx(spark, Tracer(spark, False), registry, data_dir, work, args.seed)
        t = time.perf_counter()
        wl.prepare(ctx, n_passes * len(groups))
        prep_s = time.perf_counter() - t
        setup_s = import_s + statistics.median(s["start_s"] + s["warmup_s"] for s in setups) + prep_s

        host = host_record(spark, cores)
        ctx.duck = duckdb.connect()
        for name in datagen.row_counts(args.scale):
            ctx.duck.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data_dir}/{name}.parquet')"
            )
        t = time.perf_counter()
        wl.prepare_checks(ctx)
        oracle_s = time.perf_counter() - t
        check_s = 0.0

        lat: dict[str, list[float]] = {g: [] for g in groups}
        walls: dict[str, list[float]] = {g: [] for g in groups}
        per_op: list[dict] = []
        failures: list[str] = []
        attempted = 0
        for group in groups:
            traced = group == "traced"
            ctx.tracer.enabled = traced
            with wl_mod.traced_loads(ctx.tracer) if traced else contextlib.nullcontext():
                for p in range(n_passes):
                    outputs = []
                    t_pass = time.perf_counter()
                    for op in wl.pass_ops():
                        attempted += 1
                        t0 = time.perf_counter()
                        try:
                            out, err = wl.run_op(ctx, op, p), None
                        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                            out, err = None, f"{op}: {type(e).__name__}: {str(e)[:300]}"
                        dt_op = time.perf_counter() - t0
                        lat[group].append(dt_op)
                        per_op.append({"op": op, "pass": p, "group": group, "s": dt_op})
                        outputs.append((op, out, err))
                    walls[group].append(time.perf_counter() - t_pass)
                    t = time.perf_counter()
                    for op, out, err in outputs:
                        if err is None:
                            try:
                                wl.check_op(ctx, op, out)
                            except wl_mod.CheckFailed as e:
                                err = str(e)
                        if err is not None:
                            failures.append(err)
                    check_s += time.perf_counter() - t
        ctx.tracer.enabled = False
        t = time.perf_counter()
        final = wl.final_check(ctx)
        check_s += time.perf_counter() - t
        if final:
            failures.extend(final)
            n_failed = attempted
        else:
            n_failed = len(failures)
        rss = peak_rss_mb(spark)
        if args.trace:
            ctx.tracer.harvest()
        load_end = os.getloadavg()

        op_lat = lat["untraced"]
        tail_v, tail_pct, tail_beyond = tail(op_lat)
        values = {
            "setup_s": setup_s,
            "pass_wall_s": statistics.median(walls["untraced"]),
            "op_p50_s": statistics.median(op_lat),
            "op_tail_s": tail_v,
            "ok_op_ratio": (attempted - n_failed) / attempted,
            "failed_op_ratio": n_failed / attempted,
            "peak_rss_mb": rss,
        }
        detail = {
            "workload": wl.name,
            "seed": args.seed,
            "seconds": args.seconds,
            "scale": args.scale,
            "passes": n_passes,
            "trace": args.trace,
            "host": {
                **host, "loadavg_start": load_start, "loadavg_end": load_end,
                "cpu_steal_share": steal_share(cpu_start, cpu_times()),
            },
            "gen_s": gen_s,
            "import_s": import_s,
            "setups": setups,
            "prep_s": prep_s,
            "oracle_s": oracle_s,
            "check_s": check_s,
            "failures": failures[:20],
            "op_tail": {"percentile": tail_pct, "samples_beyond": tail_beyond, "samples": len(op_lat)},
            "pass_walls_s": walls,
            "e2e": {
                m.name: {"value": values[m.name], "unit": m.unit}
                for m in (*layers.END_TO_END, *layers.DETAIL_ONLY)
            },
        }
        if args.trace:
            import layer_metrics

            layer = layer_metrics.compute(ctx, wl, setups, walls, n_passes, cores)
            metrics = {m.name: {"value": layer[m.name], "unit": m.unit} for m in layers.PER_LAYER}
            trace_path = layer_metrics.write_trace(
                os.path.join(build, "traces"), wl, args, ctx.tracer, per_op, layer, detail
            )
            detail["trace_file"] = os.path.relpath(trace_path, ROOT)
        else:
            metrics = {m.name: detail["e2e"][m.name] for m in layers.END_TO_END}
            detail["per_op_median_s"] = _per_op_medians(per_op)
    finally:
        stop_jvm(spark)

    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": n_failed == 0,
        "attempted": attempted,
        "failed": n_failed,
        "metrics": metrics,
    }))
    return 0


def _per_op_medians(per_op: list[dict]) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for r in per_op:
        by.setdefault(r["op"], []).append(r["s"])
    return {k: statistics.median(v) for k, v in sorted(by.items())}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
