"""Runtime SQL-metrics extraction: the executed plan's numbers must
confirm what the operator docstrings claim — a grouped query really
shuffles, a pure-projection operator really does not."""

from __future__ import annotations

from pyspark.sql import functions as F

from irs_990_efiler_database_spark.catalog import load_table
from irs_990_efiler_database_spark.plans.metrics import (
    execution_metrics,
    summarize_execution,
)

SF = "/root/testdata/sf0.001"


def test_grouped_query_reports_real_shuffle_bytes(spark):
    df = (
        load_table(spark, SF, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    df.collect()
    s = summarize_execution(df)
    assert s.n_exchanges >= 1
    assert s.shuffle_bytes_written > 0
    assert s.shuffle_records_written > 0
    assert s.result_rows == 5


def test_projection_operator_shuffles_nothing_at_runtime(spark, monkeypatch):
    """text_pii_redact's zero-shuffle claim, verified from the EXECUTED
    plan's metrics rather than the static plan text. The conditional
    small-input scan rebalance is disabled for the pin: it adds its own
    (legitimate, guarded) exchange upstream of the operator, which is a
    scan-layout concern, not the operator's — the operator itself must
    stay shuffle-free."""
    from irs_990_efiler_database_spark import catalog
    from irs_990_efiler_database_spark.queries.text_ops import text_pii_redact

    monkeypatch.setattr(catalog, "_REBALANCE_TABLES", frozenset())
    df = text_pii_redact(spark, SF)
    df.collect()
    s = summarize_execution(df)
    assert s.n_exchanges == 0
    assert s.shuffle_bytes_written == 0
    nodes = dict(execution_metrics(df))
    assert any("numOutputRows" in m and m["numOutputRows"] > 0 for m in nodes.values())


def test_observe_quality_metrics_ride_the_write(spark, tmp_path):
    """Dataset.observe collects row/null metrics during the sink write
    itself — no second scan — and reports exact counts."""
    from irs_990_efiler_database_spark.plans.metrics import observe_quality

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, None)], "id long, name string"
    )
    observed, obs = observe_quality(df, ["id", "name"])
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = obs.get
    assert got["n_rows"] == 4
    assert got["null_id"] == 0
    assert got["null_name"] == 2


def test_bot_regularity_flags_metronomic_user(spark, tmp_path):
    """A synthetic exactly-periodic user must be flagged (cv² = 0) and
    a bursty user must not; cv² is non-negative by construction."""
    import datetime as dt

    from irs_990_efiler_database_spark.queries.events_ops import (
        events_bot_regularity,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for i in range(30):  # bot: exact 60 s metronome
        rows.append((eid, base + dt.timedelta(seconds=60 * i), 1, "click", 0.0, "{}"))
        eid += 1
    gaps = [1, 50, 3, 400, 7, 900, 2, 120, 30, 1000] * 3  # human: bursty
    t = base
    for g in gaps:
        t = t + dt.timedelta(seconds=g)
        rows.append((eid, t, 2, "click", 0.0, "{}"))
        eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    # events_bot_regularity loads <sf_dir>/events.parquet
    df.write.parquet(str(tmp_path / "events.parquet"))
    res = {
        r.user_id: r
        for r in events_bot_regularity(spark, str(tmp_path)).collect()
    }
    assert res[1].is_bot == 1 and abs(res[1].cv2) < 1e-12
    assert res[2].is_bot == 0 and res[2].cv2 > 0.05
    assert all(r.cv2 >= -1e-12 for r in res.values())
