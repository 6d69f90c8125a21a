"""Event-time windowing operators (SURVEY.md §2.2 X29-X32), batch-verified.

Each query runs the *same event-time semantics* Structured Streaming would
apply, expressed in batch mode so the DuckDB oracle can value-check it
(per SURVEY §5: write the oracle first, make Spark match). The true
``readStream`` versions — identical expressions over a streaming source,
with watermarks — live in ``gasket_rs_spark/streaming/stream.py`` and are
exercised by the pytest streaming smoke tests.

Alignment notes:
- Spark's ``F.window`` buckets are epoch-aligned; oracles reproduce them
  with integer arithmetic on epoch seconds rather than relying on any
  engine's ``time_bucket`` origin convention.
- Watermark / stateful-dedup semantics are simulated with arrival order
  := event_id (the generator emits events in arrival order), which makes
  the streaming drop/keep decision a deterministic window function.
- The three outer stream-join sims share one seam,
  ``_interval_join_sim(spark, sf_dir, how)``: the click/purchase sides,
  the interval condition and the one-sided-guarded watermark scalar.
  Each sim adds only its emission filter and output columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gasket_rs_spark.tables import load

_TUMBLE_SEC = 600
_SLIDE_SEC = 300
_SESSION_GAP = "30 minutes"


def _events_with_sec(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events").withColumn(
        "ts_sec", F.expr("unix_millis(ts) div 1000")
    )


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute event-time windows per event type."""
    events = load(spark, sf_dir, "events")
    win = F.window("ts", f"{_TUMBLE_SEC} seconds")
    return (
        events.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            (F.floor(F.sum("value") * 10000 + 0.5) / 10000).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min width, 5 min slide): each event lands in 2."""
    events = load(spark, sf_dir, "events")
    win = F.window("ts", f"{_TUMBLE_SEC} seconds", f"{_SLIDE_SEC} seconds")
    return (
        events.groupBy(win.alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            # floor(x*1e4+0.5)/1e4 instead of round(): both engines follow
            # IEEE double semantics for this exact expression tree, whereas
            # round() implementations disagree on .5-boundary doubles.
            (F.floor(F.avg("value") * 10000 + 0.5) / 10000).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "avg_value",
        )
    )


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user (30-minute inactivity gap).

    Batch ``F.session_window`` — identical gap-merge semantics to the
    streaming stateful operator: session end = last event + gap.
    """
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", _SESSION_GAP).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.floor(F.sum("value") * 10000 + 0.5) / 10000).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


_WM_BUCKETS = 1024


def q_stream_watermark_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data drop, simulated deterministically in batch.

    Streaming semantics: with ``withWatermark("ts", "1 hour")``, an event
    is dropped if its event time is more than 1h behind the max event time
    seen so far in arrival order. Arrival order := event_id. The running
    max over arrival order reproduces the watermark exactly, so the oracle
    can check which rows survive.

    Scale shape — two-pass prefix max, NO global sort: arrival order is
    range-bucketed on event_id into a bounded number of buckets; pass 1
    aggregates each bucket's max event time, a broadcast triangular join
    over the (tiny) bucket table yields each bucket's strict-predecessor
    running max, and pass 2 computes the within-bucket running max with a
    window PARTITIONED by bucket. Every window here is partitioned; the
    single-task global ``Window.orderBy`` this replaces would wedge at
    100x scale.
    """
    events = _events_with_sec(spark, sf_dir)
    bounds = events.agg(
        F.min("event_id").alias("lo"),
        (
            F.ceil((F.max("event_id") - F.min("event_id") + 1) / F.lit(_WM_BUCKETS))
        ).cast("bigint").alias("bwidth"),
    )
    ev = events.crossJoin(F.broadcast(bounds)).withColumn(
        "bucket", ((F.col("event_id") - F.col("lo")) / F.col("bwidth")).cast("bigint")
    )
    bstats = ev.groupBy("bucket").agg(F.max("ts_sec").alias("bmax"))
    prev = (
        bstats.alias("a")
        .join(F.broadcast(bstats.alias("b")), F.col("b.bucket") < F.col("a.bucket"))
        .groupBy(F.col("a.bucket").alias("bucket"))
        .agg(F.max("b.bmax").alias("prev_max"))
    )
    w = Window.partitionBy("bucket").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ev.join(F.broadcast(prev), "bucket", "left")
        .withColumn(
            "max_seen",
            F.greatest(
                F.max("ts_sec").over(w),
                F.coalesce(F.col("prev_max"), F.lit(-(1 << 62))),
            ),
        )
        .where(F.col("ts_sec") >= F.col("max_seen") - 3600)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_kept"),
            (F.floor(F.sum("value") * 10000 + 0.5) / 10000).alias("sum_value"),
        )
    )


def q_stream_dedup_watermark_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful stream dedup (dropDuplicatesWithinWatermark analogue).

    Keep an event iff the previous event with the same (user_id,
    event_type) key — in arrival order — is more than 30 event-time
    minutes older (or absent). Deterministic, oracle-checkable stand-in
    for the streaming state-store dedup.
    """
    events = _events_with_sec(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
    return (
        events.withColumn("prev_sec", F.lag("ts_sec").over(w))
        .where(F.col("prev_sec").isNull() | (F.col("ts_sec") - F.col("prev_sec") > 1800))
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n_kept"))
    )


_JOIN_SIM_HORIZON_MS = 3_600_000  # 1 hour, the interval_join_streams_* default


def _interval_join_sim(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """The batch half shared by the three outer-join sims, the oracle
    twins of ``stream.interval_join_streams_{left,full,right}_outer``:
    purchases ``how``-joined to same-user clicks with
    ``pts_ms - H <= cts_ms <= pts_ms`` (columns ``pu``/``purchase_id``/
    ``pts_ms`` and ``cu``/``click_id``/``cts_ms``), crossed with the
    one-row watermark ``wm_ms``. Each sim adds only its emission filter
    (its per-side eviction threshold) and its ``select``.

    Replay conditions. The real outer joins are pytest-only because Spark
    emits null-extended rows on state EVICTION and the general
    emitted-null set is batch-boundary-dependent. Under the repo's
    replay conditions the emission IS deterministic and the sims
    reproduce it bit-for-bit (pinned by the ``*_join_sim_matches_streaming``
    tests in tests/test_streaming.py): each side arrives as ONE data
    batch (single staged file), so batch 1 joins with the watermark still
    at epoch 0 and emits every matched pair; the trailing no-data batch
    advances the global watermark to
    wm = min(max click ts, max purchase ts) − horizon (Spark's default
    min-of-sides multi-watermark policy) and evicts state. Unmatched
    rows newer than their side's threshold stay in state and are
    withheld when the stream ends, on both the real stream and the sims
    (the pins compare full row sets).

    One-sided guard (ADVICE r12): min-of-sides is only meaningful when
    BOTH sides have produced data — a one-sided fixture would collapse
    min(mx) to the present side's max and null-extend rows the real
    stream (global watermark still at epoch 0) would never emit. wm_ms
    is NULL then: any ``< NULL`` threshold is NULL, so no null-extended
    row passes a sim's filter.

    Scale: one equi-join on user_id (shuffle on an 8-byte key) with the
    interval as a residual range predicate + one tiny broadcast
    watermark scalar — no windows, no driver loop, state bounded by
    horizon + watermark exactly as the real stream's would be.
    """
    events = load(spark, sf_dir, "events").withColumn(
        "ts_ms", F.expr("unix_millis(ts)")
    )
    c = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts_ms").alias("cts_ms"),
    )
    p = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts_ms").alias("pts_ms"),
    )
    wm = (
        events.where(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.max("ts_ms").alias("mx"))
        .agg(
            F.when(
                F.count("*") == 2, F.min("mx") - F.lit(_JOIN_SIM_HORIZON_MS)
            ).alias("wm_ms")
        )
    )
    cond = (
        (F.col("cu") == F.col("pu"))
        & (F.col("cts_ms") <= F.col("pts_ms"))
        & (F.col("cts_ms") >= F.col("pts_ms") - F.lit(_JOIN_SIM_HORIZON_MS))
    )
    return p.join(c, cond, how).crossJoin(F.broadcast(wm))


def q_stream_left_outer_join_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER watermarked stream-stream interval join, simulated
    deterministically in batch (VERDICT r11 #3) — the oracle twin of
    ``stream.interval_join_streams_left_outer`` under the replay
    conditions in ``_interval_join_sim``.

    Eviction: left-side state only. An unmatched purchase at pts
    null-extends iff pts < wm — a qualifying click (cts ∈ [pts − horizon,
    pts]) can no longer arrive once the watermark passes pts. On the
    sf0.001 fixture 195 of 197 unmatched purchases emit and the 2
    past-wm tail rows do not, on both the real stream and this sim
    (tests/test_streaming.py::test_left_outer_join_sim_matches_streaming).
    """
    return (
        _interval_join_sim(spark, sf_dir, "left")
        .where(F.col("click_id").isNotNull() | (F.col("pts_ms") < F.col("wm_ms")))
        .select("purchase_id", "click_id", F.col("pu").alias("p_user"))
    )


def q_stream_full_outer_join_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-OUTER watermarked stream-stream interval join, simulated
    deterministically in batch (VERDICT r12 #3) — the oracle twin of
    ``stream.interval_join_streams_full_outer`` under the replay
    conditions in ``_interval_join_sim``, completing the stream-join
    family next to the left-outer sim.

    Eviction thresholds differ per side because the interval predicate
    is asymmetric (click_ts ≤ purchase_ts ≤ click_ts + horizon):

    - an unmatched PURCHASE at pts null-extends iff pts < wm — a
      qualifying click (cts ∈ [pts − horizon, pts]) can no longer
      arrive once the watermark passes pts (identical to the left-outer
      sim, whose emission is pinned bit-equal to the real stream);
    - an unmatched CLICK at cts null-extends iff cts < wm − horizon —
      it could only match purchases with pts ∈ [cts, cts + horizon],
      all below the watermark by then (right-side state eviction
      mirrors the left, shifted by the horizon)."""
    return (
        _interval_join_sim(spark, sf_dir, "full")
        .where(
            (F.col("click_id").isNotNull() & F.col("purchase_id").isNotNull())
            | (
                F.col("click_id").isNull()
                & (F.col("pts_ms") < F.col("wm_ms"))
            )
            | (
                F.col("purchase_id").isNull()
                & (F.col("cts_ms") < F.col("wm_ms") - F.lit(_JOIN_SIM_HORIZON_MS))
            )
        )
        .select(
            "purchase_id",
            "click_id",
            F.coalesce(F.col("pu"), F.col("cu")).alias("join_user"),
        )
    )


def q_stream_right_outer_join_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT-OUTER watermarked stream-stream interval join, simulated
    deterministically in batch (VERDICT r13 #4) — the oracle twin of
    ``stream.interval_join_streams_right_outer`` under the replay
    conditions in ``_interval_join_sim``, making the interval-join sim
    family total (inner / left / right / full).

    Eviction: only the CLICK side null-extends, at the threshold the
    full-outer sim derived for right-side state: an unmatched click at
    cts null-extends iff cts < wm − horizon (it could only match
    purchases with pts ∈ [cts, cts + horizon], all below the watermark
    by then). Pinned bit-equal to the real streaming emission by
    tests/test_streaming.py::test_right_outer_join_sim_matches_streaming."""
    return (
        _interval_join_sim(spark, sf_dir, "right")
        .where(
            F.col("purchase_id").isNotNull()
            | (F.col("cts_ms") < F.col("wm_ms") - F.lit(_JOIN_SIM_HORIZON_MS))
        )
        .select("purchase_id", "click_id", F.col("cu").alias("c_user"))
    )


ORACLES: dict[str, str] = {
    "stream_right_outer_join_sim": """
        WITH c AS (
            SELECT user_id AS cu, event_id AS click_id, epoch_ms(ts) AS cts_ms
            FROM events WHERE event_type = 'click'
        ), p AS (
            SELECT user_id AS pu, event_id AS purchase_id,
                   epoch_ms(ts) AS pts_ms
            FROM events WHERE event_type = 'purchase'
        ), wm AS (
            -- NULL unless both sides present (see the Spark twin)
            SELECT CASE WHEN count(*) = 2 THEN min(mx) - 3600000 END AS wm_ms
            FROM (
                SELECT event_type, max(epoch_ms(ts)) AS mx FROM events
                WHERE event_type IN ('click', 'purchase') GROUP BY 1
            )
        )
        SELECT p.purchase_id, c.click_id, c.cu AS c_user
        FROM p RIGHT JOIN c
          ON c.cu = p.pu AND c.cts_ms <= p.pts_ms
         AND c.cts_ms >= p.pts_ms - 3600000, wm
        WHERE p.purchase_id IS NOT NULL
           OR c.cts_ms < wm.wm_ms - 3600000
    """,
    "stream_left_outer_join_sim": """
        WITH c AS (
            SELECT user_id AS cu, event_id AS click_id, epoch_ms(ts) AS cts_ms
            FROM events WHERE event_type = 'click'
        ), p AS (
            SELECT user_id AS pu, event_id AS purchase_id,
                   epoch_ms(ts) AS pts_ms
            FROM events WHERE event_type = 'purchase'
        ), wm AS (
            -- NULL unless both sides present (see the Spark twin): a
            -- one-sided corpus must emit no null-extended rows
            SELECT CASE WHEN count(*) = 2 THEN min(mx) - 3600000 END AS wm_ms
            FROM (
                SELECT event_type, max(epoch_ms(ts)) AS mx FROM events
                WHERE event_type IN ('click', 'purchase') GROUP BY 1
            )
        )
        SELECT p.purchase_id, c.click_id, p.pu AS p_user
        FROM p LEFT JOIN c
          ON c.cu = p.pu AND c.cts_ms <= p.pts_ms
         AND c.cts_ms >= p.pts_ms - 3600000, wm
        WHERE c.click_id IS NOT NULL OR p.pts_ms < wm.wm_ms
    """,
    "stream_full_outer_join_sim": """
        WITH c AS (
            SELECT user_id AS cu, event_id AS click_id, epoch_ms(ts) AS cts_ms
            FROM events WHERE event_type = 'click'
        ), p AS (
            SELECT user_id AS pu, event_id AS purchase_id,
                   epoch_ms(ts) AS pts_ms
            FROM events WHERE event_type = 'purchase'
        ), wm AS (
            -- NULL unless both sides present (see the Spark twin)
            SELECT CASE WHEN count(*) = 2 THEN min(mx) - 3600000 END AS wm_ms
            FROM (
                SELECT event_type, max(epoch_ms(ts)) AS mx FROM events
                WHERE event_type IN ('click', 'purchase') GROUP BY 1
            )
        )
        SELECT p.purchase_id, c.click_id,
               coalesce(p.pu, c.cu) AS join_user
        FROM p FULL OUTER JOIN c
          ON c.cu = p.pu AND c.cts_ms <= p.pts_ms
         AND c.cts_ms >= p.pts_ms - 3600000, wm
        WHERE (c.click_id IS NOT NULL AND p.purchase_id IS NOT NULL)
           OR (c.click_id IS NULL AND p.pts_ms < wm.wm_ms)
           OR (p.purchase_id IS NULL AND c.cts_ms < wm.wm_ms - 3600000)
    """,
    "stream_tumbling": """
        SELECT CAST(to_timestamp((epoch_ms(ts) // 1000) // 600 * 600) AS TIMESTAMP) AS window_start,
               CAST(to_timestamp((epoch_ms(ts) // 1000) // 600 * 600 + 600) AS TIMESTAMP) AS window_end,
               event_type,
               count(*) AS n_events,
               floor(sum(value) * 10000 + 0.5) / 10000 AS sum_value
        FROM events
        GROUP BY 1, 2, 3
    """,
    "stream_sliding": """
        WITH starts AS (
            SELECT value AS v,
                   CAST(to_timestamp(((epoch_ms(ts) // 1000) // 300 * 300) - off) AS TIMESTAMP) AS window_start
            FROM events, (SELECT unnest([0, 300]) AS off)
            WHERE (epoch_ms(ts) // 1000) - (((epoch_ms(ts) // 1000) // 300 * 300) - off) < 600
        )
        SELECT window_start, count(*) AS n_events,
               floor(avg(v) * 10000 + 0.5) / 10000 AS avg_value
        FROM starts
        GROUP BY window_start
    """,
    "stream_session": """
        WITH marked AS (
            SELECT user_id, ts, value,
                   -- Strictly-greater boundary: Spark's session_window
                   -- MERGES an event at exactly prev+gap (window ends are
                   -- extended to latest_input+gap and a new event whose
                   -- start equals the current end still merges — verified
                   -- empirically, pinned by
                   -- tests/test_streaming.py::test_session_window_boundary_exact).
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sessions AS (
            SELECT user_id, ts, value,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM marked
        )
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*) AS n_events,
               floor(sum(value) * 10000 + 0.5) / 10000 AS sum_value
        FROM sessions
        GROUP BY user_id, sid
    """,
    "stream_watermark_sim": """
        WITH t AS (
            SELECT event_type, value,
                   epoch_ms(ts) // 1000 AS ts_sec,
                   max(epoch_ms(ts) // 1000) OVER (ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS max_seen
            FROM events
        )
        SELECT event_type, count(*) AS n_kept, floor(sum(value) * 10000 + 0.5) / 10000 AS sum_value
        FROM t
        WHERE ts_sec >= max_seen - 3600
        GROUP BY event_type
    """,
    "stream_dedup_watermark_sim": """
        WITH t AS (
            SELECT user_id, event_type,
                   epoch_ms(ts) // 1000 AS ts_sec,
                   lag(epoch_ms(ts) // 1000) OVER (PARTITION BY user_id, event_type
                                                   ORDER BY event_id) AS prev_sec
            FROM events
        )
        SELECT user_id, event_type, count(*) AS n_kept
        FROM t
        WHERE prev_sec IS NULL OR ts_sec - prev_sec > 1800
        GROUP BY user_id, event_type
    """,
}
