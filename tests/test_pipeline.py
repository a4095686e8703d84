"""End-to-end incremental pipeline: N runs over growing data == one batch
rollup of everything; the no-new-data gate skips; reruns don't double-count."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ssg_etl_spark.operators.rollups import rollup_date_type
from ssg_etl_spark.pipelines import run_events_rollup_once
from ssg_etl_spark.sources.tables import load_table


def _snapshot(spark, path):
    return {
        (r.event_date, r.event_type): (round(r.total_value, 6), r.n_events)
        for r in spark.read.parquet(path + "/target").collect()
    }


@pytest.mark.parametrize("aqe", ["true", "false"])
@pytest.mark.parametrize("partitions", ["1", "7"])
def test_incremental_runs_equal_batch(spark, sf_dir, tmp_path, aqe, partitions):
    conf = {"spark.sql.adaptive.enabled": aqe, "spark.sql.shuffle.partitions": partitions}
    saved = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        state = str(tmp_path / "state")
        events = load_table(spark, sf_dir, "events")
        cut = events.selectExpr("percentile_approx(ts, 0.5) p").first().p

        # Run 1 sees only the first half; run 2 sees everything.
        m1 = run_events_rollup_once(spark, events.filter(F.col("ts") <= cut), state)
        assert m1["extracted"] > 0 and not m1["skipped"]
        m2 = run_events_rollup_once(spark, events, state)
        assert m2["extracted"] > 0 and not m2["skipped"]
        assert m1["extracted"] + m2["extracted"] == events.count()

        want = {
            (r.event_date, r.event_type): (round(r.total_value, 6), r.n_events)
            for r in rollup_date_type(events).collect()
        }
        assert _snapshot(spark, state) == want

        # Run 3: nothing new — the M4 gate skips, target unchanged.
        m3 = run_events_rollup_once(spark, events, state)
        assert m3 == {"extracted": 0, "skipped": True}
        assert _snapshot(spark, state) == want

        # The audit rows (observed on the staging writes) account for every
        # row once, and the last one carries the advanced watermark.
        log = spark.read.parquet(state + "/log").orderBy("started_at").collect()
        assert sum(r.rows_extracted for r in log) == events.count()
        assert log[-1].last_extract_ts == events.agg(F.max("ts")).first()[0]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_empty_source_first_run_writes_nothing(spark, sf_dir, tmp_path):
    """No watermark yet and no event time to bootstrap from: the run skips
    and commits neither a target nor an audit row."""
    import os

    from ssg_etl_spark import pipelines as P

    state = str(tmp_path / "state")
    events = load_table(spark, sf_dir, "events")
    m = run_events_rollup_once(spark, events.limit(0), state)
    assert m == {"extracted": 0, "skipped": True}
    p = P._paths(state)
    assert not any(os.path.exists(p[k]) for k in ("log", "target", "staging", "marker"))

    # The next run with data bootstraps as a first run.
    m = run_events_rollup_once(spark, events, state)
    assert m == {"extracted": events.count(), "skipped": False}


def test_crash_after_commit_marker_recovers_exactly_once(spark, sf_dir, tmp_path):
    """Crash between commit marker and publish: the next run completes the
    swap + audit append instead of double-counting the batch."""
    import json
    import os

    from ssg_etl_spark import pipelines as P

    state = str(tmp_path / "state")
    events = load_table(spark, sf_dir, "events")
    cut = events.selectExpr("percentile_approx(ts, 0.5) p").first().p
    first_half = events.filter(F.col("ts") <= cut)
    run_events_rollup_once(spark, first_half, state)

    # Simulate run 2 crashing right after the marker write: stage the merged
    # result and write the marker, but never publish.
    p = P._paths(state)
    log = spark.read.parquet(p["log"])
    import datetime as dt
    wm = P.inc.get_watermark(log, P.SOURCE_NAME)
    batch = P.inc.incremental_read(events, "ts", wm)
    log_row = P.inc.advance_watermark(
        spark, P.SOURCE_NAME, batch, "ts", dt.datetime(2024, 6, 1)
    )
    delta = P.rollup_date_type(batch)
    target = spark.read.parquet(p["target"])
    P.merge_additive(
        target, delta, ["event_date", "event_type"], ["total_value", "n_events"]
    ).write.mode("overwrite").parquet(p["staging"])
    row = {
        k: (v.isoformat() if hasattr(v, "isoformat") else v)
        for k, v in log_row.first().asDict().items()
    }
    P._write_marker(p["marker"], {"run_id": row["process_log_id"], "log_row": row})
    # ---- crash here; next run must recover, then see nothing new ----
    m = run_events_rollup_once(spark, events, state)
    assert m == {"extracted": 0, "skipped": True}
    assert not os.path.exists(p["marker"]) and not os.path.exists(p["staging"])
    want = {
        (r.event_date, r.event_type): (round(r.total_value, 6), r.n_events)
        for r in rollup_date_type(events).collect()
    }
    assert _snapshot(spark, state) == want


def test_uncommitted_staging_is_discarded(spark, sf_dir, tmp_path):
    """Crash before the marker: staging is discarded and the batch replays
    cleanly (watermark never advanced)."""
    import os

    from ssg_etl_spark import pipelines as P

    state = str(tmp_path / "state")
    events = load_table(spark, sf_dir, "events")
    cut = events.selectExpr("percentile_approx(ts, 0.5) p").first().p
    run_events_rollup_once(spark, events.filter(F.col("ts") <= cut), state)
    p = P._paths(state)
    # Orphan staging dir, no marker (crash mid-stage).
    os.makedirs(p["staging"], exist_ok=True)
    m = run_events_rollup_once(spark, events, state)
    assert not m["skipped"] and m["extracted"] > 0
    want = {
        (r.event_date, r.event_type): (round(r.total_value, 6), r.n_events)
        for r in rollup_date_type(events).collect()
    }
    assert _snapshot(spark, state) == want


def test_audit_log_read_declares_its_schema(spark, sf_dir, tmp_path, jobs_started):
    """The watermark/audit log and the rollup target are engine-owned:
    reading them back declares ``schemas.ETL_LOG`` and the rollup's output
    schema and starts no schema-inference job, however many files they
    have grown to."""
    from ssg_etl_spark.pipelines import _paths, _read_or_none
    from ssg_etl_spark.schemas import ETL_LOG

    state = str(tmp_path / "state")
    events = load_table(spark, sf_dir, "events")
    cut = events.selectExpr("percentile_approx(ts, 0.5) p").first().p
    run_events_rollup_once(spark, events.filter(F.col("ts") <= cut), state)
    run_events_rollup_once(spark, events, state)
    log_path = _paths(state)["log"]

    schemas = []
    assert jobs_started(lambda: schemas.append(_read_or_none(spark, log_path, ETL_LOG).schema)) == []
    assert schemas == [ETL_LOG]
    assert spark.read.parquet(log_path).schema == ETL_LOG  # the written footer
    assert _read_or_none(spark, log_path, ETL_LOG).count() == 2

    # The rollup target is read with the rollup's own output schema.
    target_path = _paths(state)["target"]
    declared = rollup_date_type(events).schema
    schemas = []
    assert jobs_started(lambda: schemas.append(_read_or_none(spark, target_path, declared).schema)) == []
    footer = spark.read.parquet(target_path).schema
    assert [(f.name, f.dataType) for f in schemas[0]] == [(f.name, f.dataType) for f in declared]
    assert [(f.name, f.dataType) for f in footer] == [(f.name, f.dataType) for f in declared]
