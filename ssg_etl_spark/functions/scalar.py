"""Scalar column helpers — the engine's F1-F12 surface (SURVEY §2.8).

The reference implements these as T-SQL CASE chains (dags/ssg_gl_etl.py:297-320),
per-field Python coercion shims (dags/hanger_lane.py:380-433), and pandas
fillna batteries (dags/automate_etl_with_airflow.py:81-93). Here they are
pure Column expressions so they stay inside whole-stage codegen — no UDFs.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F


def case_map(col: Column, mapping: Mapping[object, object], default: object = None) -> Column:
    """CASE WHEN chain from a literal mapping (F1).

    Mirrors the reference's root_type / account_type / shift recodes
    (dags/ssg_gl_etl.py:297-320, dags/hanger_lane.py:291,316-320) as a
    single ``when`` chain Catalyst can constant-fold and codegen.
    """
    expr: Column | None = None
    for key, value in mapping.items():
        # A None key must match NULL inputs: `col == lit(None)` is never
        # true under three-valued logic, so use an explicit null test.
        cond = col.isNull() if key is None else col == F.lit(key)
        expr = F.when(cond, F.lit(value)) if expr is None else expr.when(cond, F.lit(value))
    if expr is None:
        return F.lit(default)
    return expr.otherwise(F.lit(default))


def utc_wall(ts: Column | str) -> Column:
    """BOUNDARY normalization: the UTC wall-clock (TIMESTAMP_NTZ) view of a
    TIMESTAMP *instant* column, independent of the ambient
    ``spark.sql.session.timeZone``.

    The engine's time contract (round 8): business time is UTC wall-clock
    carried in TIMESTAMP_NTZ. Table columns come out of ``load_table``
    already NTZ; calendar-field extraction on NTZ (``hour``, ``year``,
    ``CAST(.. AS DATE)``, ``date_format``) is zone-free BY TYPE and needs
    no wrapper. This helper exists for the boundaries where a genuine
    instant (session-zone-rendered TIMESTAMP) enters the engine —
    ``current_timestamp()`` stamps, JDBC/Kafka timestamps.
    ``convert_timezone(NULL, 'UTC', ts)`` casts through the current
    session zone to TIMESTAMP_NTZ carrying the instant's UTC fields.

    NEVER apply this to a TIMESTAMP_NTZ column: Spark would first
    reinterpret the NTZ wall fields as session-zone local time, SHIFTING
    the values with the ambient zone — the exact bug the round-7 advisor
    found in ``cohort_retention`` generalizes to every NTZ call site
    (the vacuous-UTC-pin gate masked it; see tests/test_tz_robustness.py).
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.convert_timezone(None, F.lit("UTC"), c)


def utc_ts_lit(value) -> Column:
    """A fixed UTC wall-clock TIMESTAMP_NTZ literal from a string /
    date / datetime — the cutoff literal matching the engine's NTZ time
    contract, zone-free on both sides of a comparison.

    ``F.lit(s).cast("timestamp")`` parses through the SESSION zone, and an
    aware-UTC datetime literal becomes a session-rendered TIMESTAMP whose
    comparison against an NTZ column coerces through the session zone
    (round-8 finding: ``ntz >= utc_ts_lit(..)`` flipped between UTC and
    Asia/Kathmandu under the old instant-literal form). A string cast to
    TIMESTAMP_NTZ parses the wall fields literally — no zone anywhere —
    and stays a foldable constant, so comparisons against it still push
    down to the parquet scan.
    """
    import datetime as _dt

    if isinstance(value, str):
        # An ISO string CARRYING AN OFFSET names an instant, not a wall
        # time — casting it straight to NTZ would silently discard the
        # offset and keep the local wall fields (shifted UTC). Parse
        # first and route aware values through the instant branch;
        # naive / non-ISO strings keep the literal-wall-fields cast.
        # Trailing 'Z' normalizes to '+00:00' so the routing does not
        # depend on the Python version (fromisoformat accepts 'Z' only
        # from 3.11).
        probe = value
        if probe.endswith(("Z", "z")):
            probe = probe[:-1] + "+00:00"
        try:
            parsed = _dt.datetime.fromisoformat(probe)
        except ValueError:
            parsed = None
        if parsed is not None and parsed.tzinfo is not None:
            value = parsed
    if isinstance(value, _dt.datetime):
        if value.tzinfo is not None:
            value = value.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        value = value.isoformat(sep=" ")
    elif isinstance(value, _dt.date):
        value = f"{value.isoformat()} 00:00:00"
    return F.lit(str(value)).cast("timestamp_ntz")


def ntz_epoch_micros(ts: Column | str) -> Column:
    """Epoch-microseconds of a TIMESTAMP_NTZ wall-clock value, computed
    arithmetically from the wall fields — zone-free by construction.

    ``unix_micros`` rejects NTZ, and every coercion route to TIMESTAMP
    (``cast("timestamp")``, ``to_utc_timestamp(.., 'UTC')``) first
    reinterprets the NTZ wall through the ambient session zone (measured:
    both shift under America/New_York). Day count × 86.4e9 + in-day
    seconds × 1e6 + the fractional-second field avoids any zone: every
    term reads wall fields only. Exact for pre-epoch values too
    (``datediff`` is a signed day count and the in-day terms are
    non-negative). All integer arithmetic — no double rounding, ANSI-safe
    (bounded by the NTZ range, ~±2.9e14 µs).
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    day_us = F.datediff(
        c.cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("bigint") * F.lit(86_400_000_000).cast("bigint")
    sec_us = (
        F.hour(c).cast("bigint") * 3600
        + F.minute(c).cast("bigint") * 60
        + F.second(c).cast("bigint")
    ) * F.lit(1_000_000).cast("bigint")
    return day_us + sec_us + F.date_format(c, "SSSSSS").cast("bigint")


def coalesce_zero(col: Column) -> Column:
    """COALESCE(x, 0) (F8) — the reference's fillna('0') / COALESCE(sum,0)."""
    return F.coalesce(col, F.lit(0))


def safe_ratio(num: Column, den: Column, scale: int = 4) -> Column:
    """round(coalesce(num,0) / nullif(coalesce(den,0),0), scale) (A9/F7-F8).

    Mirrors scripts/test/item_valuation_update.py:361-370: a ratio of two
    aggregate sums guarded against NULL and divide-by-zero.
    """
    return F.round(coalesce_zero(num) / F.nullif(coalesce_zero(den), F.lit(0)), scale)


def null_profile_exprs(columns: Iterable[str]) -> list[Column]:
    """One ``sum(col is null)`` per column (A15) — df.isnull().sum() in pandas."""
    return [
        F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls") for c in columns
    ]
