"""Event-stream operators in their batch form (tumbling windows,
gap-based sessionization).

The streaming module (streaming/stream_extract.py) runs the extraction
pipeline under Structured Streaming; these are the windowed-aggregation
analogs over the ``events`` table, expressed so the identical semantics
run as a batch query (driver gate) and as a ``readStream`` plan (swap
the source; the groupBy(window(...)) is unchanged, plus a watermark).

Scale notes: the tumbling-window groupBy keys on (event_type, hour) —
bounded cardinality per hour, map-side partial aggregation, one
shuffle. Sessionization windows partition by user_id — high
cardinality, skew-free; at 100 TB this is the classic two-pass
lag→cumsum plan with a single shuffle on user_id reused by both window
functions and the final groupBy (same partitioning, Catalyst plans one
Exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SESSION_GAP_SECONDS = 1800

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


def windowed_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour window per event_type: count + value sum.

    In streaming form this is the same groupBy over ``readStream`` with
    ``withWatermark("ts", "1 hour")``.
    """
    w = F.window("ts", "1 hour")
    return (
        events.groupBy(F.col("event_type"), w.alias("w"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            "event_type",
            F.date_format("w.start", _TS_FMT_SPARK).alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


WINDOWED_COUNTS_SQL = f"""
SELECT event_type,
       strftime(date_trunc('hour', ts), '{_TS_FMT_DUCK}') AS window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS sum_value
FROM events
GROUP BY event_type, date_trunc('hour', ts)
"""


def sessionize(events: DataFrame, gap_seconds: int = SESSION_GAP_SECONDS) -> DataFrame:
    """Gap-based sessions per user: a new session starts when the gap to
    the previous event exceeds ``gap_seconds``. Classic lag → flag →
    running-sum plan; both window functions share one shuffle on
    user_id. (The streaming equivalent is applyInPandasWithState /
    session_window — see streaming/stream_extract.py.)
    """
    from pyspark.sql.window import Window

    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ − NTZ → day-time interval: session-timezone-independent, unlike
    # a cast to TIMESTAMP + unix_micros (which would shift across DST
    # boundaries under a non-UTC session TZ)
    prev_ts = F.lag("ts").over(order)
    new_session = F.when(
        prev_ts.isNull()
        | ((F.col("ts") - prev_ts) > F.expr(f"INTERVAL {gap_seconds} SECONDS")),
        1,
    ).otherwise(0)
    running = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_session = events.withColumn(
        "session_idx", F.sum(new_session).over(running).cast("int")
    )
    return with_session.groupBy("user_id", "session_idx").agg(
        F.date_format(F.min("ts"), _TS_FMT_SPARK).alias("session_start"),
        F.count("*").cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


def sessionize_native(
    events: DataFrame, gap_seconds: int = SESSION_GAP_SECONDS
) -> DataFrame:
    """The same gap sessions via Spark's NATIVE ``session_window``
    (dynamic-gap tumbling merge) instead of the lag→cumsum plan —
    per-session rollup in ONE aggregation, no window functions. The
    output contract matches :func:`sessionize` minus the per-user
    session index (session identity = its start time).

    In streaming form the identical groupBy runs over ``readStream``
    with a watermark; this batch query is the gate for it.
    """
    return (
        events.groupBy(
            "user_id", F.session_window("ts", f"{gap_seconds} seconds").alias("sw")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("sw.start", _TS_FMT_SPARK).alias("session_start"),
            "n_events",
            "total_value",
        )
    )


def asof_last_purchase(events: DataFrame) -> DataFrame:
    """As-of join INSIDE one stream: for every 'click' event, the most
    recent 'purchase' by the same user at or before the click.

    Spark has no ASOF JOIN operator; the classic distributed encoding is
    union-then-window: tag both sides, sort per user by time, and carry
    the last purchase forward with last_value(ignoreNulls) — ONE shuffle
    on user_id, no range join, no per-row lookup. The DuckDB oracle uses
    its native ASOF JOIN, so the gate proves the encoding against a real
    as-of implementation.

    Tie rule: among several purchases by one user at the same ts, the
    max-event_id row wins (the window orders by event_id and carries the
    last) — the oracle dedups purchases to the same winner, since a
    native ASOF JOIN is free to pick any row among equal p.ts.
    """
    from pyspark.sql.window import Window

    tagged = events.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "purchase", F.col("ts")).alias("p_ts"),
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("p_value"),
        (F.col("event_type") == "click").alias("is_click"),
    )
    # purchases sort before clicks at identical ts ("at or before"):
    # order by (ts, is_click) — false < true
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.col("is_click").cast("int"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        "is_click",
        F.last("p_ts", ignorenulls=True).over(w).alias("asof_purchase_ts"),
        F.last("p_value", ignorenulls=True).over(w).alias("asof_purchase_value"),
    )
    return carried.where("is_click").select(
        "user_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("click_ts"),
        F.col("event_id").alias("click_event_id"),
        F.date_format("asof_purchase_ts", _TS_FMT_SPARK).alias("purchase_ts"),
        F.round("asof_purchase_value", 6).alias("purchase_value"),
    )


ASOF_SQL = """
WITH clicks AS (
    SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click'
),
purchases AS (
    -- dedup per (user_id, ts) keeping the max event_id: the Spark
    -- union+window encoding orders same-ts purchases by event_id and
    -- carries the last one, while a native ASOF JOIN would pick an
    -- arbitrary row among equal p.ts — deduping here pins both engines
    -- to the same deterministic winner.
    SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase'
    ) WHERE rn = 1
)
SELECT c.user_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       c.event_id AS click_event_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       round(p.value, 6) AS purchase_value
FROM clicks c
ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


# the WITH-prefix (flagged → sessions) shared with the session-window
# and stateful-session oracles in plans/queries.py
SESSIONIZE_SQL_CTES = """
WITH flagged AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                     OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {gap} * 1000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
    SELECT user_id, event_id, ts, value,
           CAST(sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS INT) AS session_idx
    FROM flagged
)
""".format(gap=SESSION_GAP_SECONDS)

SESSIONIZE_SQL = (
    SESSIONIZE_SQL_CTES
    + """SELECT user_id, session_idx,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS total_value
FROM sessions
GROUP BY user_id, session_idx
"""
)


# --- Batch interval (range) join ----------------------------------------------

RANGE_JOIN_WINDOW_SECONDS = 1800


def range_join_clicks_before_purchase(
    events: DataFrame, window_seconds: int = RANGE_JOIN_WINDOW_SECONDS
) -> DataFrame:
    """Bucketed interval join: every (purchase, click) pair by the same
    user with click.ts in [purchase.ts − W, purchase.ts).

    The naive plan — equi-join on user_id, range predicate as a filter —
    is correct but degrades to an M×N comparison inside every heavy
    user's hash bucket (the classic range-join skew: one bot user with
    10⁶ events makes 10¹² in-bucket comparisons). The distributed
    encoding here quantizes time into W-sized epochs: a click in epoch B
    can only match purchases in epochs B or B+1, so each click is
    emitted under both keys and the join becomes a pure EQUI-join on
    (user_id, epoch) with a bounded 2× fan-out, then the exact range
    predicate filters in-bucket. Comparisons drop from |clicks|·|buys|
    per user to only same-epoch pairs — the standard interval-join
    bucketing Flink/KDB apply, expressed as explode + join so Catalyst
    plans a plain shuffled hash join with map-side pruning.

    gap_us is exact integer microseconds (no float time arithmetic);
    the NTZ→micros encoding is timestampdiff from the NTZ epoch —
    session-timezone-independent, same reasoning as sessionize() above.
    """
    us_w = int(window_seconds) * 1_000_000
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_event_id"),
            F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)").alias("c_us"),
        )
        .select(
            "*",
            F.explode(
                F.array(
                    F.expr(f"c_us div {us_w}"),
                    F.expr(f"c_us div {us_w}") + 1,
                )
            ).alias("epoch"),
        )
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_event_id"),
        F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)").alias("p_us"),
        F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            f" div {us_w}"
        ).alias("epoch"),
    )
    pairs = purchases.join(
        clicks,
        on=[
            purchases.p_user == clicks.c_user,
            purchases.epoch == clicks.epoch,
        ],
    ).where(
        (F.col("c_us") < F.col("p_us"))
        & (F.col("c_us") >= F.col("p_us") - F.lit(us_w))
    )
    return pairs.select(
        F.col("p_user").alias("user_id"),
        "purchase_event_id",
        "click_event_id",
        (F.col("p_us") - F.col("c_us")).alias("gap_us"),
    )


RANGE_JOIN_SQL = """
SELECT p.user_id,
       p.event_id AS purchase_event_id,
       c.event_id AS click_event_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase'
 AND c.event_type = 'click'
 AND epoch_us(c.ts) < epoch_us(p.ts)
 AND epoch_us(c.ts) >= epoch_us(p.ts) - {w} * 1000000
""".format(w=RANGE_JOIN_WINDOW_SECONDS)
