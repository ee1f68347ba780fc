"""Structured-Streaming event queries (VERDICT r9 #7 split: the
STREAMING sub-family of the events queries — availableNow drains of the
windowed/stateful/TWS operators in ``streaming`` — plus the file-source
staging harness; batch analytics live in events_batch, with events_ops
as the compatibility aggregator). Streaming/batch parity is additionally
asserted in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import register
from .events_batch import _SLIDING_ORACLE



def _stage_events(
    sf_dir: str,
    dest,
    copies: int = 1,
    time_slices: int = 1,
    min_ts_us: int | None = None,
) -> None:
    """Stage the events table as raw parquet file(s) for a file-source
    stream. Handles both testdata shapes: a single parquet FILE (the
    driver-generated sf0.001-0.1 sets) and a Spark-written DIRECTORY
    of part files (the sf1 upsample — a bare shutil.copy raised
    IsADirectoryError there). ``copies > 1`` stages the whole set
    again under distinct names (twice-delivered-source harnesses).

    ``time_slices > 1`` (VERDICT r9 #3) stages the table as that many
    GLOBALLY TIME-SORTED contiguous row slices with strictly increasing
    mtimes instead of raw copies. Combined with
    ``stream_events(..., max_files_per_trigger=1)`` this bounds every
    micro-batch — and therefore the per-key ``pd.concat`` frames inside
    the stateful TWS operators — to one slice of the backfill, while
    preserving the per-key event-time-order-across-batches contract the
    cumulative folds rely on (slice i's (ts, event_id) keys all precede
    slice i+1's). Mutually exclusive with ``copies > 1``.

    ``min_ts_us`` stages only events with epoch-µs ``ts >= min_ts_us``
    (the "live" suffix for the bootstrap-handoff harness); it forces
    the arrow rewrite path even at ``time_slices=1``. Spark's
    ``unix_micros``, DuckDB's ``epoch_us`` and arrow's int64 cast agree
    bit-exactly on this table (verified empirically round 10 and
    asserted in tests), so the same cutoff value partitions the table
    identically in all three engines.

    The driver-side pyarrow sort+rewrite is HARNESS cost only: this
    helper exists because the testdata arrives as one parquet file. A
    production backfill's input already lands as many time-ordered
    files, so the engine-side story is just the maxFilesPerTrigger cap
    (measured A/B in BENCH_NOTES round 10)."""
    import os
    import shutil
    import time
    from pathlib import Path

    from ..catalog import table_path

    if time_slices > 1 or min_ts_us is not None:
        if copies != 1:
            raise ValueError(
                "time_slices>1/min_ts_us is incompatible with copies>1"
            )
        tbl = _events_arrow_us(sf_dir)
        if min_ts_us is not None:
            import pyarrow as pa
            import pyarrow.compute as pc

            tbl = tbl.filter(
                pc.greater_equal(
                    pc.cast(tbl["ts"], pa.int64()), pa.scalar(min_ts_us)
                )
            )
        tbl = tbl.sort_by([("ts", "ascending"), ("event_id", "ascending")])
        import pyarrow.parquet as pq

        n_rows = tbl.num_rows
        per = -(-n_rows // time_slices)  # ceil
        now = time.time()
        for i in range(time_slices):
            part = Path(dest) / f"part-{i:03d}.parquet"
            pq.write_table(tbl.slice(i * per, per), part, version="2.6")
            os.utime(part, (now + 10 * i, now + 10 * i))
        return
    src = Path(table_path(sf_dir, "events"))
    files = sorted(src.glob("*.parquet")) if src.is_dir() else [src]
    n = 0
    for _ in range(copies):
        for f in files:
            shutil.copy(f, Path(dest) / f"part-{n:03d}.parquet")
            n += 1


def _events_arrow_us(sf_dir: str):
    """The events table as a pyarrow Table with ``ts`` normalized to
    µs-unit timestamps. The table has shipped as INT96, TIMESTAMP(NANOS)
    and TIMESTAMP_NTZ(µs) across testdata revisions; pyarrow reads the
    first two as timestamp[ns], which a re-written file would encode as
    TIMESTAMP(NANOS) — unreadable by Spark's vectorized reader under
    the inferred timestamp schema. The cast is value-preserving (the
    generator's values are µs-grained)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..catalog import table_path

    tbl = pq.read_table(table_path(sf_dir, "events"))
    ts_type = tbl.schema.field("ts").type
    if pa.types.is_timestamp(ts_type) and ts_type.unit != "us":
        tbl = tbl.set_column(
            tbl.schema.get_field_index("ts"),
            "ts",
            tbl["ts"].cast(pa.timestamp("us", tz=ts_type.tz)),
        )
    return tbl


# target rows per micro-batch for a bounded availableNow backfill of
# the stateful TWS drains: below this the whole drain stays one batch
# (the fast path at the oracle/bench SFs); above it the stage is
# time-sliced so no per-key pandas frame can exceed ~one slice. 500k
# events ≈ 20 MB of the 5-column prepped frame — comfortable for a
# Python worker, far below the all-history frame a 100-TB backfill
# would otherwise concat (VERDICT r9 "what's wrong" #1).
STREAM_SLICE_ROWS = 500_000


def _adaptive_slices(sf_dir: str) -> int:
    import pyarrow.parquet as pq

    from ..catalog import table_path

    n = pq.read_table(table_path(sf_dir, "events"), columns=[]).num_rows
    return -(-n // STREAM_SLICE_ROWS)  # ceil; 1 at sf<=0.1


def _drain_knobs(
    spark: SparkSession,
    sf_dir: str,
    python_heavy: bool = False,
    store: str = "hdfs",
) -> dict:
    """Scale-adaptive sizing for an availableNow drain of the events
    feed (guide §5/§2.6, VERDICT r14 next-round #3): the per-drain
    fixed cost is dominated by state-store instance churn — one store
    open + commit PER state partition PER micro-batch (a stream-stream
    join runs four stores per partition), and on the RocksDB provider
    each instance is a native DB open — so a bounded backfill drain
    wants FEW partitions on the cheap in-memory provider, while a
    production stream wants the session's shuffle-partition count on
    RocksDB.

    Bounded-drain guard (``catalog.bounded_input``, shared with the
    scan rebalance): the staged input's on-disk bytes must fit within
    one normal task per core (cores × maxPartitionBytes). At 100 TB the
    guard fails and the defaults revert to the session's RocksDB
    provider with the session's shuffle-partition count — no local
    constant ever reaches a real deployment.

    Measured (interleaved A/B, sf0.1, min-of-3 per arm, r15):
    stream-stream join 6.28 s @ 8 parts/RocksDB → 2.99-3.13 s @ 4
    parts/HDFS; session-window agg 3.38 → 2.25; the
    applyInPandasWithState sessionizer is PYTHON-bound, so it keeps 8
    partitions for worker parallelism (8:hdfs 4.90 vs 4:hdfs 6.38) and
    only drops the RocksDB churn. ``python_heavy`` selects that
    profile. The transformWithState family measured the same shape —
    8 parts 4.8-8.5 s vs 4 parts 5.2-10.7 s vs 2 parts 8.2-16.2 s
    min-of-3 across all four TWS entries — and MUST stay on RocksDB
    (the API refuses the HDFS provider), so TWS callers pass
    ``python_heavy=True, store="rocksdb"`` and this helper only makes
    their partition count scale-adaptive."""
    from ..catalog import bounded_input, table_path

    if not bounded_input(spark, table_path(sf_dir, "events")):
        # production scale: session shuffle partitions size the store
        # count; TWS keeps its mandatory RocksDB pin, everything else
        # uses the session provider (RocksDB in the tuned factory)
        return {
            "state_partitions": None,
            "state_store": "rocksdb" if store == "rocksdb" else None,
        }
    return {
        "state_partitions": 8 if python_heavy else 4,
        "state_store": store,
    }


@register(
    "events_stream_tumbling",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME tumbling aggregation as events_tumbling_5min, but run
    through the Structured Streaming engine (file source → watermark →
    availableNow drain into a memory sink) — the streaming path itself
    sits under the oracle gate."""
    import tempfile
    from pathlib import Path
    from ..streaming import run_available_now, stream_events, tumbling_counts

    tmp = Path(tempfile.mkdtemp(prefix="events_stream_"))
    (tmp / "in").mkdir()
    _stage_events(sf_dir, tmp / "in")
    stream = tumbling_counts(stream_events(spark, str(tmp / "in")))
    return run_available_now(
        stream, "events_stream_tumbling_q", str(tmp / "ckpt"),
        **_drain_knobs(spark, sf_dir),
    )


@register("events_stream_sliding", oracle=_SLIDING_ORACLE)
def events_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME sliding aggregation run through the Structured
    Streaming engine (file source → watermark → availableNow drain)."""
    import tempfile
    from pathlib import Path
    from ..streaming import run_available_now, sliding_counts, stream_events

    tmp = Path(tempfile.mkdtemp(prefix="events_sliding_"))
    (tmp / "in").mkdir()
    _stage_events(sf_dir, tmp / "in")
    stream = sliding_counts(stream_events(spark, str(tmp / "in")))
    return run_available_now(
        stream, "events_stream_sliding_q", str(tmp / "ckpt"),
        **_drain_knobs(spark, sf_dir),
    )


@register(
    "events_stream_session_window",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             CAST(value AS DECIMAL(18,6)) AS v
      FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts_us, v,
             CASE WHEN LAG(ts_us) OVER w IS NULL
                  OR ts_us - LAG(ts_us) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM seq
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ), sess AS (
      SELECT user_id, ts_us, v,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    ), agg AS (
      SELECT user_id,
             MIN(ts_us) AS start_us,
             MAX(ts_us) + 1800000000 AS end_us,
             COUNT(*) AS n_events,
             CAST(SUM(v) AS DOUBLE) AS total_value
      FROM sess
      GROUP BY user_id, session_seq
    ), wm AS (
      SELECT MAX(ts_us) // 1000 AS max_ms FROM seq
    )
    SELECT a.user_id, a.start_us, a.end_us, a.n_events, a.total_value
    FROM agg a, wm
    WHERE a.end_us // 1000 < wm.max_ms
    """,
)
def events_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in ``F.session_window`` sessionization through the REAL
    streaming engine in append mode. Session merge rule: an event
    strictly less than the gap after the session's last event extends
    it (window end = last event + gap), so the oracle's new-session
    predicate is ``diff >= gap`` — the mirror of the batch
    lag-sessionizer's strict ``>``. Emission rule: append mode only
    emits sessions whose end has passed the final watermark
    (ms granularity), reconstructed verbatim by the oracle."""
    import tempfile
    from pathlib import Path
    from ..streaming import run_available_now, session_windows, stream_events

    tmp = Path(tempfile.mkdtemp(prefix="events_sesswin_"))
    (tmp / "in").mkdir()
    _stage_events(sf_dir, tmp / "in")
    stream = session_windows(stream_events(spark, str(tmp / "in")))
    return run_available_now(
        stream, "events_stream_sesswin_q", str(tmp / "ckpt"), output_mode="append",
        **_drain_knobs(spark, sf_dir),
    )


@register(
    "events_stream_stateful_sessions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             CAST(ROUND(value * 1000000) AS BIGINT) AS v_us
      FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts_us, v_us,
             CASE WHEN LAG(ts_us) OVER w IS NULL
                  OR ts_us - LAG(ts_us) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM seq
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ), sess AS (
      SELECT user_id, ts_us, v_us,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    ), agg AS (
      SELECT user_id,
             MIN(ts_us) AS start_us,
             MAX(ts_us) AS end_us,
             COUNT(*) AS n_events,
             CAST(SUM(v_us) AS BIGINT) AS value_micros
      FROM sess
      GROUP BY user_id, session_seq
    ), wm AS (
      SELECT MAX(ts_us) // 1000 AS max_ms FROM seq
    )
    SELECT a.user_id, a.start_us, a.end_us, a.n_events, a.value_micros
    FROM agg a, wm
    WHERE (a.end_us + 1800000000) // 1000 < wm.max_ms
    """,
)
def events_stream_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom applyInPandasWithState gap-sessionizer run through
    the REAL streaming engine (file source → 0-delay watermark →
    event-time timeouts → availableNow drain). The oracle recomputes
    the identical sessions with SQL window functions and applies the
    operator's emission rule — only sessions whose gap has provably
    elapsed at the final watermark — so the stateful operator's exact
    output (timestamps, counts, integer-micros sums) sits under the
    hash gate, not just a row count."""
    import tempfile
    from pathlib import Path
    from ..streaming import run_available_now, stateful_sessions, stream_events

    tmp = Path(tempfile.mkdtemp(prefix="events_stateful_"))
    (tmp / "in").mkdir()
    _stage_events(sf_dir, tmp / "in")
    stream = stateful_sessions(stream_events(spark, str(tmp / "in")))
    return run_available_now(
        stream, "events_stream_stateful_q", str(tmp / "ckpt"), output_mode="append",
        **_drain_knobs(spark, sf_dir, python_heavy=True),
    )


@register(
    "events_stream_state_introspection",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             CAST(ROUND(value * 1000000) AS BIGINT) AS v_us
      FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts_us, v_us,
             CASE WHEN LAG(ts_us) OVER w IS NULL
                  OR ts_us - LAG(ts_us) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM seq
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ), sess AS (
      SELECT user_id, ts_us, v_us,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    ), agg AS (
      SELECT user_id,
             MIN(ts_us) AS start_us,
             MAX(ts_us) AS last_us,
             COUNT(*) AS n_events,
             CAST(SUM(v_us) AS BIGINT) AS value_micros
      FROM sess
      GROUP BY user_id, session_seq
    ), wm AS (
      SELECT MAX(ts_us) // 1000 AS max_ms FROM seq
    )
    SELECT a.user_id, a.start_us, a.last_us, a.n_events, a.value_micros
    FROM agg a, wm
    WHERE (a.last_us + 1800000000) // 1000 >= wm.max_ms
    """,
)
def events_stream_state_introspection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """State-store DATA SOURCE read (SURVEY §2.12, Spark 4
    ``spark.read.format("statestore")``): drain the stateful
    gap-sessionizer, then read its CHECKPOINT back as a DataFrame and
    project the per-user open-session state — the production
    introspection path (what keys hold state, is cleanup evicting).
    The state content after an availableNow drain is fully
    deterministic and therefore oracle-checkable: it is exactly the
    COMPLEMENT of the sessionizer's emission rule — each user's last
    session iff its close time has NOT provably passed the final
    watermark ((last_us + gap) // 1000 >= max event ms; emitted
    sessions' state was evicted by the event-time timeout). So one
    query hash-gates both the reader (values round-trip the state
    files bit-exactly) and the operator's state-cleanup contract (an
    un-evicted emitted session would surface as an extra row)."""
    import tempfile
    from pathlib import Path

    from ..streaming import (
        read_state,
        run_available_now,
        stateful_sessions,
        stream_events,
    )

    tmp = Path(tempfile.mkdtemp(prefix="events_state_introspect_"))
    (tmp / "in").mkdir()
    _stage_events(sf_dir, tmp / "in")
    # deliberately NOT on _drain_knobs: the r15 interleaved A/B
    # measured this entry flat across providers/partitions (8:rocksdb
    # 4.37-4.51 vs 8:hdfs 4.35 min-of-3 — the drain is python-bound),
    # and keeping the RocksDB checkpoint unconditional avoids coupling
    # the statestore READER path to the provider choice.
    run_available_now(
        stateful_sessions(stream_events(spark, str(tmp / "in"))),
        "events_state_introspect_q",
        str(tmp / "ckpt"),
        output_mode="append",
        state_partitions=8,
    )
    return read_state(spark, str(tmp / "ckpt")).select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.groupState.start_us").alias("start_us"),
        F.col("value.groupState.last_us").alias("last_us"),
        F.col("value.groupState.n").alias("n_events"),
        F.col("value.groupState.v_micros").alias("value_micros"),
    )


@register(
    "events_stream_session_close_timers_tws",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             CAST(ROUND(value * 1000000) AS BIGINT) AS v_us
      FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts_us, v_us,
             CASE WHEN LAG(ts_us) OVER w IS NULL
                  OR ts_us - LAG(ts_us) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM seq
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ), sess AS (
      SELECT user_id, ts_us, v_us,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    ), agg AS (
      SELECT user_id,
             MIN(ts_us) AS start_us,
             MAX(ts_us) AS end_us,
             COUNT(*) AS n_events,
             CAST(SUM(v_us) AS BIGINT) AS value_micros
      FROM sess
      GROUP BY user_id, session_seq
    ), wm AS (
      SELECT MAX(ts_us) // 1000 AS max_ms FROM seq
    )
    SELECT a.user_id, a.start_us, a.end_us, a.n_events, a.value_micros,
           a.end_us // 1000 + 1800000 AS closed_at_ms
    FROM agg a, wm
    WHERE a.end_us // 1000 + 1800000 <= wm.max_ms
    """,
)
def events_stream_session_close_timers_tws(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Event-time TIMERS on the TWS arbitrary-state API (SURVEY
    §2.12, VERDICT r8 #3): the gap-sessionizer re-expressed so that
    EVERY emitted row comes out of ``handleExpiredTimer`` — input
    batches only fold state (open session in ValueState, gap-closed
    sessions in a pending ListState) and register event-time timers;
    the watermark advancing past a session's close time is what
    produces output. Differs from ``events_stream_stateful_sessions``
    (applyInPandasWithState timeouts) in the API under test, not the
    sessionization: this is the registerTimer / handleExpiredTimer /
    getCurrentWatermarkInMs surface, which had no oracle coverage.

    Two-file user-split harness (even/odd user_id, ordered mtimes +
    maxFilesPerTrigger=1) makes timers genuinely fire MID-STREAM
    (registered in batch 0, fired in batch 1 when the watermark
    advances) and again in the final no-data batch; the emitted set
    is batch-invariant by construction (emission depends only on data
    + final watermark), which is what the SQL oracle replays:
    a session emits iff end_ms + gap_ms <= max_event_ms, inclusive —
    timers fire at expiry == watermark on this engine (probed)."""
    import os
    import tempfile
    import time
    from pathlib import Path

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..streaming import (
        run_available_now,
        session_close_timers,
        stream_events,
    )

    tmp = Path(tempfile.mkdtemp(prefix="events_tws_timers_"))
    (tmp / "in").mkdir()
    # µs-normalized read: a re-written ns-unit file would be unreadable
    # by Spark's vectorized reader under the inferred schema
    tbl = _events_arrow_us(sf_dir)
    parity = pc.bit_wise_and(tbl["user_id"], 1)
    now = time.time()
    for i in (0, 1):
        part = tmp / "in" / f"part-{i:03d}.parquet"
        pq.write_table(
            tbl.filter(pc.equal(parity, i)), part, version="2.6"
        )
        os.utime(part, (now + 10 * i, now + 10 * i))
    stream = session_close_timers(
        stream_events(spark, str(tmp / "in"), max_files_per_trigger=1)
    )
    return run_available_now(
        stream,
        "events_stream_tws_timers_q",
        str(tmp / "ckpt"),
        output_mode="append",
        **_drain_knobs(spark, sf_dir, python_heavy=True, store="rocksdb"),
    )


@register(
    "events_stream_trailing_state_tws",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             CAST(ROUND(value * 1000000) AS BIGINT) AS v_us
      FROM events
    )
    SELECT user_id, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts_us, event_id) AS type_seq,
           CAST(SUM(v_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS trail3_v_us
    FROM seq
    """,
)
def events_stream_trailing_state_tws(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ListState + MapState on the TWS API (SURVEY §2.12, VERDICT r8
    #3): promotes the remaining typed-state kinds from unit tests to
    the hash gate. Each input event emits its per-(user, type)
    sequence number — a running count carried in **MapState**
    (event_type -> n) — and its trailing-3 integer-micros value sum,
    whose 2-value carry buffer lives in **ListState** across
    micro-batches. Both are exact SQL window functions, so every
    List/MapState wire round-trip (getValue/updateValue, get/put) is
    value-checked, not just exercised. The window math is the VEHICLE;
    the batch ``win_*`` family already covers it as SQL — what had no
    oracle row is the state-kind surface itself."""
    import tempfile
    from pathlib import Path
    from ..streaming import run_available_now, stream_events, trailing_state

    tmp = Path(tempfile.mkdtemp(prefix="events_tws_trail_"))
    (tmp / "in").mkdir()
    # bounded backfill (VERDICT r9 #3): above STREAM_SLICE_ROWS the
    # stage is time-sliced + maxFilesPerTrigger=1 so no per-key pandas
    # frame in the operator exceeds ~one slice; at the oracle/bench SFs
    # this resolves to the single-batch fast path
    k = _adaptive_slices(sf_dir)
    _stage_events(sf_dir, tmp / "in", time_slices=k)
    stream = trailing_state(
        stream_events(
            spark, str(tmp / "in"), max_files_per_trigger=1 if k > 1 else None
        )
    )
    return run_available_now(
        stream,
        "events_stream_tws_trail_q",
        str(tmp / "ckpt"),
        output_mode="append",
        **_drain_knobs(spark, sf_dir, python_heavy=True, store="rocksdb"),
    )


@register(
    "events_stream_running_totals_tws",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             CAST(ROUND(value * 1000000) AS BIGINT) AS v_us
      FROM events
    )
    SELECT user_id, event_id,
           COUNT(*) OVER w AS n_cum,
           CAST(SUM(v_us) OVER w AS BIGINT) AS v_cum_micros
    FROM seq
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS UNBOUNDED PRECEDING)
    """,
)
def events_stream_running_totals_tws(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Spark 4 arbitrary-state API (``transformWithStateInPandas``,
    SURVEY §2.12) run through the real streaming engine: per-user
    running event count + integer-micros value sum held in a typed
    ValueState, drained with availableNow. The cumulative sum is the
    VEHICLE — the operator under test is the transformWithState
    surface itself (typed state handles, the proto state protocol,
    RocksDB-native layout), which the win_* batch family can't touch;
    the oracle recomputes the identical cumulative sequence with a SQL
    window frame, putting TWS's exact output under the hash gate.
    Works without the protobuf wheel via compat/protoshim (the mini
    proto3 runtime is itself verified here against the JVM's real
    protobuf on every state-protocol message)."""
    import tempfile
    from pathlib import Path
    from ..streaming import run_available_now, running_totals, stream_events

    tmp = Path(tempfile.mkdtemp(prefix="events_tws_"))
    (tmp / "in").mkdir()
    # bounded backfill above STREAM_SLICE_ROWS — see
    # events_stream_trailing_state_tws for the rationale
    k = _adaptive_slices(sf_dir)
    _stage_events(sf_dir, tmp / "in", time_slices=k)
    stream = running_totals(
        stream_events(
            spark, str(tmp / "in"), max_files_per_trigger=1 if k > 1 else None
        )
    )
    return run_available_now(
        stream,
        "events_stream_tws_q",
        str(tmp / "ckpt"),
        output_mode="append",
        # same sizing rule as events_stream_stateful_sessions: a
        # bounded drain pays a RocksDB instance + commit per state
        # partition per batch — 8 partitions measured 3.46 s vs 4.83 s
        # at 32 on the sf0.1 drain (state is 2 longs x 150 users)
        **_drain_knobs(spark, sf_dir, python_heavy=True, store="rocksdb"),
        # transformWithState requires the RocksDB provider; pin it
        # per-query so the drain works on ANY session, not just one
        # built by session.get_spark (which sets it globally)
    )


@register(
    "events_stream_running_totals_bootstrap_tws",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             CAST(ROUND(value * 1000000) AS BIGINT) AS v_us
      FROM events
    ),
    cut AS (SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS cut_us FROM seq),
    hist AS (
      SELECT user_id, COUNT(*) AS n0, SUM(v_us) AS v0
      FROM seq, cut WHERE ts_us < cut_us GROUP BY user_id
    ),
    live AS (SELECT seq.* FROM seq, cut WHERE ts_us >= cut_us)
    SELECT l.user_id, l.event_id,
           CAST(COALESCE(h.n0, 0) + COUNT(*) OVER w AS BIGINT) AS n_cum,
           CAST(COALESCE(h.v0, 0) + SUM(l.v_us) OVER w AS BIGINT)
             AS v_cum_micros
    FROM live l LEFT JOIN hist h USING (user_id)
    WINDOW w AS (PARTITION BY l.user_id ORDER BY l.ts_us, l.event_id
                 ROWS UNBOUNDED PRECEDING)
    """,
)
def events_stream_running_totals_bootstrap_tws(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch→stream state handoff on the TWS ``initialState`` surface
    (SURVEY §2.12): the migration pattern every streaming rollout
    needs — aggregate the HISTORICAL half of the feed with one batch
    job (one row per user), seed the stateful operator's ValueState
    from that frame via ``handleInitialState``, then stream only the
    LIVE half; emitted cumulative totals include the carried-in base
    without ever replaying history through the state store. At 100 TB
    the difference is streaming |keys| seed rows instead of |history|
    events. The cumulative math is the VEHICLE (same fold as
    events_stream_running_totals_tws); what had no oracle row is the
    initial-state co-group wiring itself — a wrong/dropped/duplicated
    seed shifts every downstream total, so the hash gate proves the
    handoff is exact. Split point: the midpoint epoch-µs timestamp,
    computed identically by Spark (``unix_micros``), the arrow staging
    filter (int64 cast) and the DuckDB oracle (``epoch_us``)."""
    import tempfile
    from pathlib import Path
    from ..catalog import load_table
    from ..streaming import run_available_now, running_totals, stream_events

    tmp = Path(tempfile.mkdtemp(prefix="events_tws_boot_"))
    (tmp / "in").mkdir()
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 1_000_000).cast("long").alias("v_us"),
    )
    lo, hi, n_total = ev.agg(
        F.min("ts_us"), F.max("ts_us"), F.count(F.lit(1))
    ).first()
    if n_total == 0:
        # empty feed: nothing to seed, nothing to stream — mirror the
        # empty-source drain contract (typed empty frame) instead of
        # crashing on (None + None) // 2
        return spark.createDataFrame(
            [], "user_id LONG, event_id LONG, n_cum LONG, v_cum_micros LONG"
        )
    cut_us = (lo + hi) // 2
    # the batch job side of the handoff: one row per user, computed by
    # the engine (map-side-combined groupBy), never staged as events
    seeds = (
        ev.filter(F.col("ts_us") < cut_us)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n0"),
            F.sum("v_us").alias("v0_micros"),
        )
    )
    # bounded backfill sizing on the EXACT live-row count (one cheap
    # aggregate) — n_total/2 would undersize the slices whenever the
    # feed is time-skewed toward the live half (the shape of any
    # growing event log), silently exceeding the per-micro-batch bound
    # the slicing exists to enforce; single-batch fast path at the
    # oracle/bench SFs
    n_live = ev.filter(F.col("ts_us") >= cut_us).count()
    k = max(1, -(-n_live // STREAM_SLICE_ROWS))
    _stage_events(sf_dir, tmp / "in", time_slices=k, min_ts_us=cut_us)
    stream = running_totals(
        stream_events(
            spark, str(tmp / "in"), max_files_per_trigger=1 if k > 1 else None
        ),
        initial_totals=seeds,
    )
    return run_available_now(
        stream,
        "events_stream_tws_boot_q",
        str(tmp / "ckpt"),
        output_mode="append",
        **_drain_knobs(spark, sf_dir, python_heavy=True, store="rocksdb"),
    )


@register(
    "events_stream_dedup",
    oracle="""
    SELECT event_id, user_id, event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
           CAST(ROUND(value * 1000000) AS BIGINT) AS v_us
    FROM events
    """,
)
def events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-once dedup: the SAME events file is staged
    TWICE into the landing prefix (at-least-once delivery), and the
    watermarked dropDuplicates state recovers exactly-once output —
    the oracle is simply the events table itself, each event once.
    At scale the dedup state holds only ids inside the watermark
    horizon; older state is evicted as the watermark advances."""
    import tempfile
    from pathlib import Path
    from ..streaming import run_available_now, stream_events

    tmp = Path(tempfile.mkdtemp(prefix="events_dedup_"))
    (tmp / "in").mkdir()
    _stage_events(sf_dir, tmp / "in", copies=2)
    ev = stream_events(spark, str(tmp / "in")).select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 1_000_000).cast("long").alias("v_us"),
    )
    deduped = ev.withWatermark("ts", "10 minutes").dropDuplicates(
        ["event_id"]
    ).drop("ts")
    return run_available_now(
        deduped, "events_stream_dedup_q", str(tmp / "ckpt"), output_mode="append",
        **_drain_knobs(spark, sf_dir),
    )


@register(
    "events_stream_click_attribution",
    oracle="""
    SELECT p.user_id,
           p.event_id AS purchase_id,
           c.event_id AS click_id,
           epoch_us(CAST(p.ts AS TIMESTAMP)) AS purchase_us,
           epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_us
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase'
     AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
     AND c.ts <= p.ts
    """,
)
def events_stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join through the real streaming engine:
    purchases and clicks are two watermarked streams over the same
    landing prefix, joined on user within a 10-minute lookback
    (streaming.purchase_click_attribution). The oracle is the plain
    batch interval join — inner stream-stream joins emit exactly the
    batch answer once the source drains."""
    import tempfile
    from pathlib import Path
    from ..streaming import (
        purchase_click_attribution,
        run_available_now,
        stream_events,
    )

    tmp = Path(tempfile.mkdtemp(prefix="events_stream_"))
    (tmp / "in").mkdir()
    _stage_events(sf_dir, tmp / "in")
    clicks = stream_events(spark, str(tmp / "in")).filter(
        F.col("event_type") == "click"
    )
    purchases = stream_events(spark, str(tmp / "in")).filter(
        F.col("event_type") == "purchase"
    )
    joined = purchase_click_attribution(clicks, purchases)
    return run_available_now(
        joined, "events_stream_click_attr_q", str(tmp / "ckpt"), output_mode="append",
        **_drain_knobs(spark, sf_dir),
    )


@register(
    "events_stream_click_attribution_outer",
    oracle="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    c AS (SELECT * FROM events WHERE event_type = 'click'),
    wm AS (
      SELECT least(
               (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) // 1000 FROM c),
               (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) // 1000 FROM p)
             ) - 1800000 AS wm_ms
    )
    SELECT p.user_id,
           p.event_id AS purchase_id,
           c.event_id AS click_id,
           epoch_us(CAST(p.ts AS TIMESTAMP)) AS purchase_us,
           epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_us
    FROM p JOIN c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
     AND c.ts <= p.ts
    UNION ALL
    SELECT p.user_id,
           p.event_id AS purchase_id,
           CAST(NULL AS BIGINT) AS click_id,
           epoch_us(CAST(p.ts AS TIMESTAMP)) AS purchase_us,
           CAST(NULL AS BIGINT) AS click_us
    FROM p
    WHERE NOT EXISTS (
            SELECT 1 FROM c
            WHERE c.user_id = p.user_id
              AND c.ts >= p.ts - INTERVAL 10 MINUTE
              AND c.ts <= p.ts)
      AND epoch_us(CAST(p.ts AS TIMESTAMP)) // 1000 < (SELECT wm_ms FROM wm)
    """,
)
def events_stream_click_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join under the exact oracle gate: the
    oracle replays both the interval matches AND the watermark
    null-emission rule (min-of-sides watermark, ms floor, strict <) —
    so the streaming engine's outer-join state eviction itself is what
    gets hash-verified."""
    import tempfile
    from pathlib import Path
    from ..streaming import (
        purchase_click_attribution_outer,
        run_available_now,
        stream_events,
    )

    tmp = Path(tempfile.mkdtemp(prefix="events_stream_"))
    (tmp / "in").mkdir()
    _stage_events(sf_dir, tmp / "in")
    clicks = stream_events(spark, str(tmp / "in")).filter(
        F.col("event_type") == "click"
    )
    purchases = stream_events(spark, str(tmp / "in")).filter(
        F.col("event_type") == "purchase"
    )
    joined = purchase_click_attribution_outer(clicks, purchases)
    return run_available_now(
        joined,
        "events_stream_click_attr_outer_q",
        str(tmp / "ckpt"),
        output_mode="append",
        **_drain_knobs(spark, sf_dir),
    )


@register(
    "events_stream_enrich_dim",
    oracle="""
    SELECT CASE CAST(user_id % 4 AS INT)
             WHEN 0 THEN 'bronze' WHEN 1 THEN 'silver'
             WHEN 2 THEN 'gold' ELSE 'vip' END AS segment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
)
def events_stream_enrich_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join through the real streaming
    engine: the events stream joins a broadcast user-segment dimension
    per micro-batch (no watermark, no join state — the static side
    re-broadcasts and each batch joins map-side), then rolls up per
    segment. The dimension is derived deterministically in both
    engines; the availableNow drain must equal the batch join+rollup
    exactly."""
    import tempfile
    from pathlib import Path
    from ..streaming import (
        enrich_with_dimension,
        run_available_now,
        stream_events,
    )

    tmp = Path(tempfile.mkdtemp(prefix="events_enrich_"))
    (tmp / "in").mkdir()
    _stage_events(sf_dir, tmp / "in")

    dim = spark.range(100_000).select(
        F.col("id").alias("user_id"),
        F.element_at(
            F.array(F.lit("bronze"), F.lit("silver"), F.lit("gold"), F.lit("vip")),
            (F.col("id") % 4).cast("int") + 1,
        ).alias("segment"),
    )
    ev = stream_events(spark, str(tmp / "in"))
    enriched = enrich_with_dimension(ev, dim, key="user_id")
    agg = enriched.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("total_value"),
    )
    return run_available_now(
        agg, "events_stream_enrich_q", str(tmp / "ckpt"),
        **_drain_knobs(spark, sf_dir),
    )


def events_stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transformWithStateInPandas running-total operator (Spark 4
    arbitrary-state API) run through the real streaming engine —
    per-event cumulative count and integer-micros value sum per user,
    matching the batch cumulative window exactly.

    NOT in the oracle registry: transformWithState's driver worker
    requires the protobuf package, absent in this container — the
    parity proof is tests/test_streaming.py::
    test_transform_with_state_running_totals (skipped where protobuf
    is unavailable, green where it exists)."""
    import tempfile
    from pathlib import Path
    from ..streaming import run_available_now, running_totals, stream_events

    tmp = Path(tempfile.mkdtemp(prefix="events_running_"))
    (tmp / "in").mkdir()
    _stage_events(sf_dir, tmp / "in")
    stream = running_totals(stream_events(spark, str(tmp / "in")))
    return run_available_now(
        stream, "events_stream_running_q", str(tmp / "ckpt"), output_mode="append",
        **_drain_knobs(spark, sf_dir, python_heavy=True, store="rocksdb"),
    )


@register(
    "events_stream_dedup_within_watermark",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def events_stream_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The dropDuplicatesWithinWatermark variant: unlike plain
    dropDuplicates (exact keys forever, state grows with key
    cardinality), this API guarantees dedup only for duplicates
    arriving within the watermark delay of each other and EVICTS
    per-key state as event time advances — the right tool when
    duplicate deliveries are time-local (retries, replays) and keys
    are unbounded. Output is the key projection itself so the result
    is deterministic regardless of which physical duplicate won; a
    single availableNow batch dedups everything, making DISTINCT the
    exact oracle."""
    import tempfile
    from pathlib import Path
    from ..streaming import run_available_now, stream_events

    tmp = Path(tempfile.mkdtemp(prefix="events_dedup_wm_"))
    (tmp / "in").mkdir()
    _stage_events(sf_dir, tmp / "in")
    ev = stream_events(spark, str(tmp / "in")).select(
        "ts", "user_id", "event_type"
    )
    deduped = (
        ev.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_available_now(
        deduped,
        "events_stream_dedup_wm_q",
        str(tmp / "ckpt"),
        output_mode="append",
        **_drain_knobs(spark, sf_dir),
    )


@register(
    "events_stream_click_attribution_full",
    oracle="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    c AS (SELECT * FROM events WHERE event_type = 'click'),
    wm AS (
      SELECT least(
               (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) // 1000 FROM c),
               (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) // 1000 FROM p)
             ) - 1800000 AS wm_ms
    )
    SELECT p.user_id,
           p.event_id AS purchase_id,
           c.event_id AS click_id,
           epoch_us(CAST(p.ts AS TIMESTAMP)) AS purchase_us,
           epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_us
    FROM p JOIN c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
     AND c.ts <= p.ts
    UNION ALL
    SELECT p.user_id, p.event_id, CAST(NULL AS BIGINT),
           epoch_us(CAST(p.ts AS TIMESTAMP)), CAST(NULL AS BIGINT)
    FROM p
    WHERE NOT EXISTS (
            SELECT 1 FROM c
            WHERE c.user_id = p.user_id
              AND c.ts >= p.ts - INTERVAL 10 MINUTE
              AND c.ts <= p.ts)
      AND epoch_us(CAST(p.ts AS TIMESTAMP)) // 1000 < (SELECT wm_ms FROM wm)
    UNION ALL
    SELECT c.user_id, CAST(NULL AS BIGINT), c.event_id,
           CAST(NULL AS BIGINT), epoch_us(CAST(c.ts AS TIMESTAMP))
    FROM c
    WHERE NOT EXISTS (
            SELECT 1 FROM p
            WHERE p.user_id = c.user_id
              AND c.ts >= p.ts - INTERVAL 10 MINUTE
              AND c.ts <= p.ts)
      AND (epoch_us(CAST(c.ts AS TIMESTAMP)) + 600000000) // 1000
            < (SELECT wm_ms FROM wm)
    """,
)
def events_stream_click_attribution_full(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FULL OUTER stream-stream join under the exact oracle gate: the
    oracle replays the interval matches AND BOTH watermark
    null-emission rules — purchases once wm passes their timestamp,
    clicks once wm passes click_ts + lookback (the state-eviction
    boundary on each side). Completes the inner/left/full join-matrix
    coverage of the streaming engine."""
    import tempfile
    from pathlib import Path
    from ..streaming import (
        purchase_click_attribution_full,
        run_available_now,
        stream_events,
    )

    tmp = Path(tempfile.mkdtemp(prefix="events_attr_full_"))
    (tmp / "in").mkdir()
    _stage_events(sf_dir, tmp / "in")
    ev = stream_events(spark, str(tmp / "in"))
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    out = purchase_click_attribution_full(clicks, purchases)
    return run_available_now(
        out, "events_attr_full_q", str(tmp / "ckpt"), output_mode="append",
        **_drain_knobs(spark, sf_dir),
    )
