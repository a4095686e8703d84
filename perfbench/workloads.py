"""The three workloads: what one op is, how inputs are prepared, how
outputs are checked.

Query workloads run registry queries. One op is build (the registry
builder) -> plan (Catalyst's ``executedPlan``) -> execute (the result
materialised at the client as Arrow) -> ``cache.release_tracked``. After
the pass's timer stops, every op's result is compared with the query's
DuckDB oracle over the same tables (``tools/check_correctness``
canonicalisation), so each timed execution is also a checked one.

``incremental_load`` runs daily batches: rollup, CDC upsert, snapshot
commit and a checked read-back. After the timed passes, DuckDB replays the
same generated batches and the three targets must equal the replay.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import hashlib
import os
import shutil
import sys
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from tools.check_correctness import canon

STAR_QUERIES = (
    "gl_enrichment",
    "seven_way_join",
    "top_products",
    "product_association",
    "retention_split",
    "rollup_date_user",
    "running_total_by_nation",
    "yoy_monthly_sales",
    "asof_last_before",
    "agg_ratio_per_part",
    "events_10min_window",
    "avg_daily_orders_sales",
)
# Near-dup operators in their full-corpus, in-plan incremental and (PROBE)
# precomputed-index forms, plus the global and grouped twins of the exact
# quantile operator: LLM-curation operators whose builders run eager jobs
# and hold tracked persists.
CURATION_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_jaccard_prefix",
    "dedup_incremental_vs_corpus",
    "dedup_clusters",
    "embedding_near_dup",
    "quantiles_totalprice_exact",
    "quantiles_price_by_status_exact",
)
PROBE = "minhash_probe_vs_index"
# Untimed warm-up after each session start: a scan-aggregate and a
# broadcast join-aggregate, neither part of any workload.
WARMUP_QUERIES = ("kpi_totals", "sales_by_product")


class CheckFailed(Exception):
    """An op's output differs from what the inputs determine."""


@dataclass
class Ctx:
    spark: object
    tracer: object
    registry: dict
    data_dir: str
    work_dir: str
    seed: int
    duck: object = None  # DuckDB connection with one view per table


def _utc(v: dt.datetime) -> dt.datetime:
    return v.astimezone(dt.timezone.utc).replace(tzinfo=None) if v.tzinfo else v


def canon_column(col) -> list[str]:
    """``canon`` of every cell of one Arrow column, one type test per
    column instead of per cell. Spark's zone-aware TIMESTAMPs (UTC
    session) become naive UTC like DuckDB's."""
    t, vals = col.type, col.to_pylist()
    if pa.types.is_floating(t):
        return ["NULL" if v is None else "NaN" if v != v else repr(round(v, 9) + 0.0) for v in vals]
    if pa.types.is_integer(t) or pa.types.is_string(t) or pa.types.is_large_string(t):
        return ["NULL" if v is None else str(v) for v in vals]
    if pa.types.is_timestamp(t):
        return ["NULL" if v is None else _utc(v).isoformat(sep=" ") for v in vals]
    return [canon(v) for v in vals]


def digest(table) -> tuple:
    """(sorted column names, row count, value hash) of an Arrow table,
    equal to ``tools/check_correctness.table_digest`` over its rows."""
    names = table.column_names
    order = sorted(range(len(names)), key=lambda i: names[i])
    lines = sorted("|".join(r) for r in zip(*(canon_column(table.column(i)) for i in order)))
    body = "".join(line + "\n" for line in lines)
    return (tuple(sorted(names)), table.num_rows, hashlib.sha256(body.encode()).hexdigest())


def duck_digest(duck, sql: str) -> tuple:
    return digest(duck.execute(sql).arrow())


@contextlib.contextmanager
def traced_loads(tracer):
    """Route every ``load_table`` reference in the engine through a span,
    for the traced passes only."""
    from ssg_etl_spark.sources import tables

    orig = tables.load_table

    def load_table(spark, sf_dir, name):
        with tracer.span("sources.load", detail=name):
            return orig(spark, sf_dir, name)

    mods = [
        m for n, m in list(sys.modules.items())
        if n.startswith("ssg_etl_spark") and getattr(m, "load_table", None) is orig
    ]
    for m in mods:
        m.load_table = load_table
    try:
        yield
    finally:
        for m in mods:
            m.load_table = orig


class Workload:
    """The runner calls ``prepare`` (timed as set-up), ``prepare_checks``,
    then per pass ``pass_ops`` and ``run_op`` for each op (timed),
    ``check_op`` for each op once the pass's timer stopped, and
    ``final_check`` after the last pass."""

    def __init__(self, name: str, why: str, nominal_pass_s: float):
        self.name = name
        self.why = why
        self.nominal_pass_s = nominal_pass_s  # sets the passes per --seconds

    def prepare(self, ctx: Ctx, passes: int) -> None:
        pass

    def prepare_checks(self, ctx: Ctx) -> None:
        pass

    def check_op(self, ctx: Ctx, op: str, out) -> None:
        pass

    def final_check(self, ctx: Ctx) -> list[str]:
        return []


class QueryWorkload(Workload):
    queries: tuple[str, ...] = ()

    def builders(self, ctx: Ctx) -> dict:
        return {q: ctx.registry[q].builder for q in self.queries}

    def oracles(self, ctx: Ctx) -> dict[str, str]:
        return {q: ctx.registry[q].oracle for q in self.queries}

    def prepare_checks(self, ctx: Ctx) -> None:
        self._builders = self.builders(ctx)
        self.expected = {q: duck_digest(ctx.duck, sql) for q, sql in self.oracles(ctx).items()}

    def pass_ops(self) -> list[str]:
        return list(self._builders)

    def run_op(self, ctx: Ctx, op: str, pass_no: int):
        from ssg_etl_spark.cache import release_tracked, tracked_count

        tr = ctx.tracer
        builder = self._builders[op]
        with tr.span("op", op=op, pass_no=pass_no):
            with tr.span("plans.build"):
                df = builder(ctx.spark, ctx.data_dir)
            with tr.span("catalyst.plan") as plan_span:
                df._jdf.queryExecution().executedPlan()
            if plan_span is not None:
                from tools.plan_audit import formatted_plan, node_counts

                counts = node_counts(formatted_plan(df))
                plan_span["exchanges"] = counts.get("Exchange", 0)
                plan_span["broadcast_joins"] = counts.get("BroadcastHashJoin", 0)
            with tr.span("exec"):
                table = df.toArrow()
            if tr.enabled:
                cache_state = {
                    "persists": tracked_count(),
                    "mem_mb": storage_mb(ctx.spark),
                }
            with tr.span("cache.release") as rel:
                release_tracked()
            if rel is not None:
                rel.update(cache_state)
        return table

    def check_op(self, ctx: Ctx, op: str, table) -> None:
        got = digest(table)
        want = self.expected[op]
        if got != want:
            raise CheckFailed(
                f"{op}: columns/rows {got[0]}/{got[1]} vs oracle {want[0]}/{want[1]}"
                + ("" if got[:2] != want[:2] else ", value digest differs")
            )


class StarDashboard(QueryWorkload):
    queries = STAR_QUERIES


class LlmCuration(QueryWorkload):
    """The curation queries plus the probe of a precomputed MinHash index
    (built during set-up, written as parquet) by a seeded delta slice."""

    queries = CURATION_QUERIES

    def residue(self, ctx: Ctx) -> int:
        return ctx.seed % 10

    def index_dir(self, ctx: Ctx) -> str:
        return os.path.join(ctx.work_dir, "minhash_index")

    def prepare(self, ctx: Ctx, passes: int) -> None:
        from pyspark.sql import functions as F

        from ssg_etl_spark.cache import release_tracked
        from ssg_etl_spark.operators import dedup
        from ssg_etl_spark.sources.tables import load_table

        docs = load_table(ctx.spark, ctx.data_dir, "documents")
        base = docs.filter(F.col("doc_id") % 10 != self.residue(ctx))
        idx = dedup.build_minhash_index(base)
        for name, df in idx.items():
            df.write.mode("overwrite").parquet(os.path.join(self.index_dir(ctx), name))
        release_tracked()

    def builders(self, ctx: Ctx) -> dict:
        from pyspark.sql import functions as F

        from ssg_etl_spark.operators import dedup
        from ssg_etl_spark.sources import tables

        out = super().builders(ctx)
        r = self.residue(ctx)
        idx_dir = self.index_dir(ctx)

        def probe(spark, sf_dir):
            idx = {
                n: spark.read.parquet(os.path.join(idx_dir, n))
                for n in ("shingles", "buckets", "hot", "hot_buckets")
            }
            docs = tables.load_table(spark, sf_dir, "documents")
            delta = docs.filter(F.col("doc_id") % 10 == r)
            return dedup.minhash_lsh_pairs_vs_index(
                idx["shingles"], idx["buckets"], idx["hot"], delta, 0.5,
                base_hot_buckets=idx["hot_buckets"],
            )

        out[PROBE] = probe
        return out

    def oracles(self, ctx: Ctx) -> dict[str, str]:
        out = super().oracles(ctx)
        # The registered precomputed-index query fixes the delta slice at
        # residue 0; its oracle is rewritten for the seeded residue.
        sql = ctx.registry["dedup_incremental_precomputed"].oracle
        r = self.residue(ctx)
        n_eq, n_ne = sql.count("% 10 = 0"), sql.count("% 10 <> 0")
        if not (n_eq and n_ne):
            raise RuntimeError("dedup_incremental_precomputed oracle changed shape")
        out[PROBE] = sql.replace("% 10 = 0", f"% 10 = {r}").replace(
            "% 10 <> 0", f"% 10 <> {r}"
        )
        return out


def storage_mb(spark) -> float:
    from tools import spark_rest

    return sum(r.get("memoryUsed", 0) for r in spark_rest.api(spark, "storage/rdd")) / 2**20


def parquet_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


@dataclass
class IncState:
    root: str
    events_root: str  # holds events.parquet/ (a directory of day files)
    rollup_dir: str
    orders_target: str
    snapshot_dir: str
    days: list[str] = field(default_factory=list)  # staged day files
    changes: list[str] = field(default_factory=list)  # staged orders batches
    day_rows: list[int] = field(default_factory=list)
    inserts: list[int] = field(default_factory=list)
    landed: list[str] = field(default_factory=list)
    n_events: int = 0
    n_orders: int = 0
    upsert: object = None


class IncrementalLoad(Workload):
    """Seeded daily batches: each op lands one day of events, runs the
    watermark rollup, upserts one orders change batch, commits the day to
    the versioned events table and reads the three targets back."""

    def __init__(self, name: str, why: str, nominal_pass_s: float, batches_per_pass: int):
        super().__init__(name, why, nominal_pass_s)
        self.batches_per_pass = batches_per_pass
        self.state: IncState | None = None
        self._next = 0

    def prepare(self, ctx: Ctx, passes: int) -> None:
        from ssg_etl_spark.pipelines import run_events_rollup_once
        from ssg_etl_spark.sources.tables import load_table
        from ssg_etl_spark.sources.versioning import commit_snapshot
        from ssg_etl_spark.streaming.pipeline import foreach_batch_upsert

        root = os.path.join(ctx.work_dir, "incremental")
        st = IncState(
            root=root,
            events_root=os.path.join(root, "source"),
            rollup_dir=os.path.join(root, "rollup"),
            orders_target=os.path.join(root, "orders_target"),
            snapshot_dir=os.path.join(root, "events_versions"),
        )
        events_dir = os.path.join(st.events_root, "events.parquet")
        os.makedirs(events_dir)
        os.makedirs(st.orders_target)
        os.makedirs(os.path.join(root, "staged"))
        shutil.copy(os.path.join(ctx.data_dir, "events.parquet"), os.path.join(events_dir, "day000.parquet"))
        shutil.copy(os.path.join(ctx.data_dir, "orders.parquet"), os.path.join(st.orders_target, "part-base.parquet"))
        st.landed.append(os.path.join(events_dir, "day000.parquet"))
        base_events = pq.read_metadata(st.landed[0]).num_rows
        orders = pq.read_table(os.path.join(ctx.data_dir, "orders.parquet"), columns=["o_orderkey"])
        st.n_events, st.n_orders = base_events, orders.num_rows
        self._stage(ctx, st, passes * self.batches_per_pass, base_events, orders.column(0).to_numpy())
        # Initial state: the rollup bootstrapped over the base events, and
        # version 1 of the versioned events table.
        run_events_rollup_once(ctx.spark, load_table(ctx.spark, st.events_root, "events"), st.rollup_dir)
        commit_snapshot(ctx.spark.read.parquet(st.landed[0]), st.snapshot_dir)
        st.upsert = foreach_batch_upsert(st.orders_target, ["o_orderkey"])
        self.state = st

    def _stage(self, ctx: Ctx, st: IncState, n_batches: int, base_events: int, keys: np.ndarray) -> None:
        rng = np.random.default_rng(ctx.seed)
        per_day = max(10, base_events // datagen.EVENT_DAYS)
        n_users = max(15, base_events // 66)
        n_customers = pq.read_metadata(os.path.join(ctx.data_dir, "customer.parquet")).num_rows
        next_key = int(keys.max()) + 1
        live = keys.copy()
        n_change = max(5, len(keys) // 50)

        for b in range(n_batches):
            day = datagen.EVENTS_START + dt.timedelta(days=datagen.EVENT_DAYS + b)
            n = per_day + int(rng.integers(-per_day // 10, per_day // 10 + 1))
            ev = datagen.events_table(rng, n, day, 1, n_users, first_id=base_events + b * 10 * per_day)
            path = os.path.join(st.root, "staged", f"day{b + 1:03d}.parquet")
            pq.write_table(ev, path)
            st.days.append(path)
            st.day_rows.append(n)
            n_ins = n_change // 5
            upd = rng.choice(live, n_change - n_ins, replace=False)
            new = np.arange(next_key, next_key + n_ins)
            next_key += n_ins
            live = np.concatenate([live, new])
            chg = datagen.orders_table(rng, np.concatenate([upd, new]), n_customers)
            path = os.path.join(st.root, "staged", f"orders{b + 1:03d}.parquet")
            pq.write_table(chg, path)
            st.changes.append(path)
            st.inserts.append(n_ins)

    def pass_ops(self) -> list[str]:
        ops = [f"batch{self._next + i + 1:03d}" for i in range(self.batches_per_pass)]
        self._next += self.batches_per_pass
        return ops

    def run_op(self, ctx: Ctx, op: str, pass_no: int):
        from pyspark.sql import functions as F

        from ssg_etl_spark.pipelines import run_events_rollup_once
        from ssg_etl_spark.sources import tables
        from ssg_etl_spark.sources.versioning import (
            commit_snapshot,
            read_snapshot,
            snapshot_file_count,
        )

        st, tr, spark = self.state, ctx.tracer, ctx.spark
        b = int(op[len("batch"):]) - 1
        landed = os.path.join(st.events_root, "events.parquet", os.path.basename(st.days[b]))
        written_before = self._written() if tr.enabled else None
        with tr.span("op", op=op, pass_no=pass_no) as op_span:
            shutil.copy(st.days[b], landed)
            st.landed.append(landed)
            st.n_events += st.day_rows[b]
            st.n_orders += st.inserts[b]
            with tr.span("pipelines.run"):
                res = run_events_rollup_once(
                    spark, tables.load_table(spark, st.events_root, "events"), st.rollup_dir
                )
            with tr.span("streaming.upsert"):
                st.upsert(spark.read.parquet(st.changes[b]), b + 1)
            with tr.span("versioning.commit"):
                commit_snapshot(spark.read.parquet(landed), st.snapshot_dir)
            with tr.span("sources.readback"):
                n_snap = read_snapshot(spark, st.snapshot_dir).count()
                n_orders = spark.read.parquet(st.orders_target).count()
                n_rolled = (
                    spark.read.parquet(os.path.join(st.rollup_dir, "target"))
                    .agg(F.sum("n_events")).first()[0]
                )
        if op_span is not None:
            new = {p: n for p, n in self._written().items() if p not in written_before}
            op_span["bytes_written"] = sum(new.values())
            op_span["files_written"] = len(new)
            op_span["change_bytes"] = os.path.getsize(st.days[b]) + os.path.getsize(st.changes[b])
            op_span["files_live"] = snapshot_file_count(st.snapshot_dir)
        got = (res.get("extracted"), n_snap, n_orders, n_rolled)
        want = (st.day_rows[b], st.n_events, st.n_orders, st.n_events)
        if got != want:
            raise CheckFailed(f"{op}: (extracted, snapshot, orders, rolled) {got} != {want}")

    def _written(self) -> dict[str, int]:
        """Parquet files (path -> bytes) of the three targets."""
        st = self.state
        out = {}
        for d in (st.rollup_dir, st.orders_target, st.snapshot_dir):
            out.update(parquet_files(d))
        return out

    def final_check(self, ctx: Ctx) -> list[str]:
        """DuckDB replay of the batches that ran against the three targets."""
        from ssg_etl_spark.sources.versioning import read_snapshot

        st, spark, duck = self.state, ctx.spark, ctx.duck
        done = len(st.landed) - 1
        files = "[" + ", ".join(f"'{p}'" for p in st.landed) + "]"
        changes = " UNION ALL BY NAME ".join(
            [f"SELECT *, 0 AS _b FROM read_parquet('{ctx.data_dir}/orders.parquet')"]
            + [f"SELECT *, {i + 1} AS _b FROM read_parquet('{p}')" for i, p in enumerate(st.changes[:done])]
        )
        replays = {
            "rollup target": (
                spark.read.parquet(os.path.join(st.rollup_dir, "target")),
                f"""SELECT CAST(ts AS DATE) AS event_date, event_type,
                      CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value,
                      COUNT(*) AS n_events
                    FROM read_parquet({files}) GROUP BY 1, 2""",
            ),
            "orders target": (
                spark.read.parquet(st.orders_target),
                f"""SELECT * EXCLUDE (_b) FROM ({changes})
                    QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY _b DESC) = 1""",
            ),
            "versioned events": (
                read_snapshot(spark, st.snapshot_dir),
                f"SELECT * FROM read_parquet({files})",
            ),
        }
        problems = []
        for what, (df, sql) in replays.items():
            got = digest(df.toArrow())
            if got != duck_digest(duck, sql):
                problems.append(f"{what} differs from the DuckDB replay after {done} batches")
        return problems


def workloads() -> dict:
    ws = [
        StarDashboard(
            "star_dashboard",
            "the 12 headline relational queries: scan- and Catalyst-bound dashboard reads with no eager jobs or persists",
            nominal_pass_s=12.0,
        ),
        LlmCuration(
            "llm_curation",
            "near-dup (full, incremental, prebuilt-index probe) and the exact-quantile twins: builder eager jobs and tracked persists, few scans",
            nominal_pass_s=24.0,
        ),
        IncrementalLoad(
            "incremental_load",
            "seeded daily batches of rollup, CDC upsert, snapshot commit and read-back: writes beside reads, fixed per-batch job cost",
            nominal_pass_s=14.0,
            batches_per_pass=4,
        ),
    ]
    return {w.name: w for w in ws}
