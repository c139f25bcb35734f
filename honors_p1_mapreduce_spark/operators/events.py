"""Time-windowed aggregations over the ``events`` stream table
(SURVEY.md §7.2 item 5 — the reference has zero time/stream operators,
SURVEY.md §2.4).

Batch implementations of the standard streaming window family —
tumbling, sliding, session — written against the SAME transformation
shapes Structured Streaming uses (``F.window`` / ``F.session_window``
group keys), so the streaming port is the one-line ``readStream`` swap
exercised in ``streaming/`` and its tests. At 100 TB these are
single-shuffle plans: window+key hash aggregate with partial
map-side aggregation, and the parquet scan prunes to the 3-4 columns
touched.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dsum_col, dsum_expr, dsum_sql
from ..sources.tables import load_table

TUMBLE_WIDTH = "1 hour"
SLIDE_WIDTH = "1 hour"
SLIDE_STEP = "30 minutes"
SESSION_GAP = "6 hours"


def tumbling_counts(events: DataFrame, width: str = TUMBLE_WIDTH) -> DataFrame:
    """Shared batch/streaming transformation: per-(window, event_type)
    counts and exact value sums over tumbling windows."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum_col("value", "sum_value", scale=6, precision=24))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_counts(load_table(spark, sf_dir, "events"))


EVENTS_TUMBLING_ORACLE = f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
       event_type, count(*) AS n_events,
       {dsum_sql('value', 'sum_value', scale=6, precision=24)}
FROM events
GROUP BY 1, 2, 3
"""


def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h windows every 30min: each event lands in
    width/slide = 2 windows. Spark expands the windows at the scan
    (one extra row per overlapping window — bounded fan-out of 2),
    then the same single hash-agg shuffle as tumbling."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", SLIDE_WIDTH, SLIDE_STEP).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


# DuckDB twin: enumerate each event's 2 covering windows explicitly.
EVENTS_SLIDING_ORACLE = """
WITH expanded AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) - i.i * INTERVAL '30 minutes'
           AS window_start,
         event_type
  FROM events, unnest([0, 1]) AS i(i)
)
SELECT window_start, window_start + INTERVAL '1 hour' AS window_end,
       event_type, count(*) AS n_events
FROM expanded
GROUP BY 1, 2, 3
"""


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization per user (6h inactivity closes a
    session): one row per session with span and exact value sum.

    Uses ``F.session_window`` — the same operator Structured Streaming
    runs stateful — whose window end is ``last_ts + gap``; we subtract
    the gap back so ``session_end`` is the last event's timestamp
    (comparable to the oracle's ``max(ts)``).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), dsum_col("value", "sum_value", scale=6, precision=24))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            (F.col("w.end") - F.expr("INTERVAL 6 HOURS")).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


USER_SESSIONS_ORACLE = f"""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL '6 hours' THEN 1 ELSE 0 END
           AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
numbered AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM marked
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       {dsum_sql('value', 'sum_value', scale=6, precision=24)}
FROM numbered
GROUP BY user_id, session_no
"""


def events_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the ``props`` JSON column with
    a typed schema (``from_json`` — JVM-side Jackson, no Python) and
    aggregate the extracted field per event type. At scale the JSON
    parse is a per-row map inside the scan stage; only the tiny
    aggregate shuffles."""
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k BIGINT")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


EVENTS_PROPS_STATS_ORACLE = """
SELECT event_type, count(*) AS n_events,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
"""


def events_above_type_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key join demo: count each event type's above-average events
    and their total excess — the classic two-pass (aggregate, join the
    per-key scalar back to the fact side) that CANNOT collapse into
    one aggregate.

    ``event_type`` has only 5 distinct values, so EVERY row of the
    fact side hashes to one of 5 join partitions no matter how many
    tasks exist — the textbook hot-key layout AQE's skew splitting
    can't fix (splitting a partition never splits one key's hash
    bucket for the build side). The join runs through
    :func:`~..functions.skew.salted_inner_join`: the fact side gains a
    16-way deterministic salt, the 5-row profile side replicates 16x,
    and the shuffle spreads each hot key over 16 partitions
    (plan-asserted in tests/test_plan_shapes.py; shuffle_hash hint
    keeps the demo honest — at this scale Spark would broadcast the
    tiny profile and no salt-partitioned shuffle would exist at all).

    The per-type average goes through the exact-decimal mean (sum of
    decimal(27,6) cast double / count) so the comparison threshold is
    the identical IEEE double in both engines.
    """
    from ..functions.skew import salted_inner_join

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    profile = ev.groupBy("event_type").agg(
        (
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double")
            / F.count("*")
        ).alias("type_avg")
    )
    joined = salted_inner_join(
        ev, profile, "event_type", n_salts=16, join_hint="shuffle_hash"
    )
    return (
        joined.filter(F.col("value") > F.col("type_avg"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_above"),
            dsum_expr(
                F.col("value") - F.col("type_avg"), "excess_sum", scale=6
            ),
        )
    )


EVENTS_ABOVE_TYPE_AVG_ORACLE = """
WITH profile AS (
  SELECT event_type,
         CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / count(*)
           AS type_avg
  FROM events GROUP BY event_type
)
SELECT e.event_type, count(*) AS n_above,
       CAST(sum(CAST((e.value - p.type_avg) AS DECIMAL(27,6))) AS DOUBLE)
         AS excess_sum
FROM events e JOIN profile p ON e.event_type = p.event_type
WHERE e.value > p.type_avg
GROUP BY e.event_type
"""


def event_type_hourly_topk(
    spark: SparkSession, sf_dir: str, k: int = 3
) -> DataFrame:
    """Top-k busiest hours per event type — window agg + ranked window
    function, the composed shape dashboards run. Deterministic
    tie-break on window_start."""
    from pyspark.sql import Window as W

    hourly = tumbling_counts(load_table(spark, sf_dir, "events"))
    w = W.partitionBy("event_type").orderBy(
        F.desc("n_events"), F.asc("window_start")
    )
    return (
        hourly.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("event_type", "rank", "window_start", "n_events")
    )


def event_type_hourly_topk_oracle(k: int = 3) -> str:
    return f"""
WITH hourly AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
         event_type, count(*) AS n_events
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, window_start, n_events,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY n_events DESC, window_start ASC) AS rank
  FROM hourly
)
SELECT event_type, rank, window_start, n_events FROM ranked WHERE rank <= {k}
"""


EVENT_TYPE_HOURLY_TOPK_ORACLE = event_type_hourly_topk_oracle()

# ----------------------------------------------------- gap-filled resample

def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled hourly counts per event_type — the resample/gap-fill
    op dashboards and downstream models need (plain tumbling windows
    silently omit empty buckets).

    Scale order: aggregate FIRST (the only full-data shuffle, same as
    events_tumbling), then build the hour spine from the aggregated
    frame's min/max window starts (already hour-aligned by F.window —
    no timestamp-truncation arithmetic to keep NTZ-safe) and the
    distinct-type frame, both tiny. The spine x types grid is a
    broadcast nested-loop over two aggregated inputs, never over raw
    events. Output: (window_start, event_type, n_events) for EVERY
    (hour, type) cell in the observed range.
    """
    from pyspark.storagelevel import StorageLevel

    ev = load_table(spark, sf_dir, "events")
    # persisted because three consumers read it (bounds, types, the
    # left join) and each recompute would re-scan+re-shuffle events;
    # cleanup follows the codebase-wide policy (dedup_minhash etc.):
    # the returned frame is lazy, so the cache entry is left to LRU
    # eviction / the caller's clearCache, never eagerly unpersisted
    counts = (
        ev.groupBy(F.window("ts", TUMBLE_WIDTH).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bounds = counts.agg(
        F.min("window_start").alias("lo"), F.max("window_start").alias("hi")
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("window_start")
    )
    types_ = counts.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types_))
    return grid.join(counts, ["window_start", "event_type"], "left").select(
        "window_start",
        "event_type",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
    )


EVENTS_GAPFILL_ORACLE = """
WITH counts AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
         event_type, count(*) AS n_events
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT min(window_start) AS lo, max(window_start) AS hi FROM counts
),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS window_start
  FROM bounds
),
types AS (SELECT DISTINCT event_type FROM counts)
SELECT s.window_start, t.event_type,
       CAST(coalesce(c.n_events, 0) AS BIGINT) AS n_events
FROM spine s
CROSS JOIN types t
LEFT JOIN counts c
  ON c.window_start = s.window_start AND c.event_type = t.event_type
"""

# --------------------------------------------------------- funnel

FUNNEL_STEPS = ("view", "click", "purchase")


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion over the event stream: how many users
    did view -> click -> purchase IN ORDER, each later step strictly
    after the user's first qualifying earlier step.

    Plan shape: ONE data shuffle. The sequential dependency (step k's
    timestamp conditions on step k-1's) chains three window columns
    over the SAME user partitioning — Spark stacks the three Window
    operators on one exchange, each later min reading the previous
    window's attribute — then the per-user dedup and the 1-row audit
    aggregate reuse that partitioning. No self-joins and no
    driver-side actions (the multi-count formulation is exactly the
    anti-pattern repeat_customers was purged of). Counts are exact
    integers; conversion rates divide those longs as doubles, so both
    engines agree bitwise.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1, s2, s3 = FUNNEL_STEPS
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "t1", F.min(F.when(F.col("event_type") == s1, F.col("ts"))).over(w)
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == s2) & (F.col("ts") > F.col("t1")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == s3) & (F.col("ts") > F.col("t2")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.first("t1").alias("t1"),
        F.first("t2").alias("t2"),
        F.first("t3").alias("t3"),
    )
    counted = per_user.agg(
        F.count("t1").alias("n_step1"),
        F.count("t2").alias("n_step2"),
        F.count("t3").alias("n_step3"),
    )
    return counted.select(
        "n_step1",
        "n_step2",
        "n_step3",
        F.when(
            F.col("n_step1") > 0,
            F.col("n_step2").cast("double") / F.col("n_step1"),
        )
        .otherwise(F.lit(0.0))
        .alias("conv_1_2"),
        F.when(
            F.col("n_step2") > 0,
            F.col("n_step3").cast("double") / F.col("n_step2"),
        )
        .otherwise(F.lit(0.0))
        .alias("conv_2_3"),
    )


FUNNEL_CONVERSION_ORACLE = f"""
WITH s1 AS (
  SELECT user_id, ts, event_type,
         min(CASE WHEN event_type = '{FUNNEL_STEPS[0]}' THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM events
),
s2 AS (
  SELECT *, min(CASE WHEN event_type = '{FUNNEL_STEPS[1]}' AND ts > t1
                     THEN ts END) OVER (PARTITION BY user_id) AS t2
  FROM s1
),
s3 AS (
  SELECT *, min(CASE WHEN event_type = '{FUNNEL_STEPS[2]}' AND ts > t2
                     THEN ts END) OVER (PARTITION BY user_id) AS t3
  FROM s2
),
per_user AS (
  SELECT user_id, any_value(t1) AS t1, any_value(t2) AS t2,
         any_value(t3) AS t3
  FROM s3 GROUP BY user_id
),
counted AS (
  SELECT count(t1) AS n_step1, count(t2) AS n_step2, count(t3) AS n_step3
  FROM per_user
)
SELECT n_step1, n_step2, n_step3,
       CASE WHEN n_step1 > 0
            THEN CAST(n_step2 AS DOUBLE) / n_step1 ELSE 0.0 END AS conv_1_2,
       CASE WHEN n_step2 > 0
            THEN CAST(n_step3 AS DOUBLE) / n_step2 ELSE 0.0 END AS conv_2_3
FROM counted
"""

# ------------------------------------------- hypertable-style rollup


def events_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascading multi-grain time rollup (minute -> hour -> day) — the
    hypertable/continuous-aggregate pattern: raw events are scanned
    ONCE for the finest grain, and every coarser grain re-aggregates
    the grain below it instead of rescanning the fact table. At 100 TB
    that is the difference between one fact scan + two tiny aggregate
    passes and three full scans; the minute frame is persisted because
    it feeds its own output row-set AND the hour aggregation (and the
    hour frame likewise feeds the day rollup through the same plan).

    Exactness across the cascade: per-minute sums are kept as EXACT
    DECIMALS (not collapsed to double) so hour/day re-aggregation adds
    decimals, not IEEE doubles — the cast to double happens once per
    output row, making every grain bit-identical to the oracle's
    single-pass grouping no matter how the cascade partitions.

    Output: (grain, bucket_start, event_type, n_events, sum_value).
    """
    return _rollup_cascade(_minute_partials(load_table(spark, sf_dir, "events")))


def _minute_partials(ev: DataFrame) -> DataFrame:
    """(bucket_start, event_type, n_events, sdec): per-minute counts
    and EXACT decimal sums of raw events — the one fact-table pass of
    the rollup family, and what the incremental-rollup stream stores
    per micro-batch (``streaming.windows``)."""
    return ev.groupBy(
        F.date_trunc("minute", "ts").alias("bucket_start"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(24,6)")).alias("sdec"),
    )


def _regroup_partials(partials: DataFrame, bucket: Column) -> DataFrame:
    """Re-add (n_events, sdec) partials per (``bucket``, event_type):
    counts and decimal sums are re-addable, so a coarser grain, a
    merge of stored micro-batch partials and a compaction are all
    this one aggregation."""
    return partials.groupBy(bucket.alias("bucket_start"), "event_type").agg(
        F.sum("n_events").alias("n_events"), F.sum("sdec").alias("sdec")
    )


def _rollup_cascade(minute: DataFrame) -> DataFrame:
    """The minute -> hour -> day cascade over minute partials, each
    grain cast to double once per output row. Shared by the batch
    operator and the rollup store reader."""
    minute = minute.persist()
    hour = _regroup_partials(
        minute, F.date_trunc("hour", "bucket_start")
    ).persist()
    day = _regroup_partials(hour, F.date_trunc("day", "bucket_start"))

    def out(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            "bucket_start",
            "event_type",
            "n_events",
            F.col("sdec").cast("double").alias("sum_value"),
        )

    return out(minute, "minute").union(out(hour, "hour")).union(out(day, "day"))


def _rollup_grain_sql(grain: str) -> str:
    return f"""
SELECT '{grain}' AS grain, date_trunc('{grain}', ts) AS bucket_start,
       event_type, count(*) AS n_events,
       {dsum_sql('value', 'sum_value', scale=6, precision=24)}
FROM events GROUP BY 2, 3"""


EVENTS_MULTI_ROLLUP_ORACLE = " UNION ALL ".join(
    _rollup_grain_sql(g) for g in ("minute", "hour", "day")
)


# ------------------------------------------- trailing range window

MOVING_WINDOW_S = 540  # trailing 9 minutes before + current minute = 10


def events_moving_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 10-minute moving count/sum per event type, served at
    minute grain — the time-RANGE window frame (rangeBetween over
    event-time seconds), which row-frame windows cannot express when
    buckets are missing (a rows-frame would reach back a fixed ROW
    count and silently span gaps; the range frame reaches back fixed
    TIME).

    Scale shape: the window runs over the MINUTE-AGGREGATED frame
    (one row per (type, minute) — bounded by time span, not event
    count), never over raw events: pre-aggregate partials first, then
    the range window costs |buckets| log |buckets| per type. The
    moving sum re-adds exact decimal partials, so the final double is
    engine-identical.
    """
    return _moving_stats(_minute_partials(load_table(spark, sf_dir, "events")))


def _moving_stats(minute: DataFrame) -> DataFrame:
    """The trailing range window over minute partials — shared by the
    batch operator and the rollup store reader."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_timestamp("bucket_start"))
        .rangeBetween(-MOVING_WINDOW_S, 0)
    )
    return minute.select(
        "bucket_start",
        "event_type",
        "n_events",
        F.sum("n_events").over(w).alias("mov_events"),
        F.sum("sdec").over(w).cast("double").alias("mov_sum"),
    )


EVENTS_MOVING_STATS_ORACLE = f"""
WITH minute AS (
  SELECT date_trunc('minute', ts) AS bucket_start, event_type,
         count(*) AS n_events,
         sum(CAST(value AS DECIMAL(24,6))) AS sdec
  FROM events GROUP BY 1, 2
)
SELECT bucket_start, event_type, n_events,
       CAST(sum(n_events) OVER w AS BIGINT) AS mov_events,
       CAST(sum(sdec) OVER w AS DOUBLE) AS mov_sum
FROM minute
WINDOW w AS (
  PARTITION BY event_type
  ORDER BY CAST(epoch(bucket_start) AS BIGINT)
  RANGE BETWEEN {MOVING_WINDOW_S} PRECEDING AND CURRENT ROW
)
"""


# ------------------------------------------------------- pivot

PIVOT_TYPES = ("click", "error", "purchase", "signup", "view")


def events_daily_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily activity matrix: one row per day, one count column per
    event type — the pivot (long->wide) operator.

    The pivot VALUE LIST is explicit (``PIVOT_TYPES``): Spark's
    list-less pivot first runs a distinct scan to discover columns,
    which both doubles the cost and makes the output schema
    data-dependent — a production pipeline pins the columns. With the
    list, the plan is a single pass: one hash aggregate with a
    conditional-count expression per column (identical to the
    CASE-aggregation the oracle spells out), no extra shuffle beyond
    the day grouping.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", list(PIVOT_TYPES))
        .agg(F.count(F.lit(1)))
        .select(
            "day",
            *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in PIVOT_TYPES],
        )
    )


EVENTS_DAILY_PIVOT_ORACLE = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       """ + ",\n       ".join(
    f"CAST(count(*) FILTER (event_type = '{t}') AS BIGINT) AS n_{t}"
    for t in PIVOT_TYPES
) + """
FROM events
GROUP BY 1
"""


# --------------------------------------------------- cohort retention


def user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by FIRST-seen day, then
    for each (cohort_day, offset_days) the count of cohort members
    active that many days later — the standard product-analytics
    retention triangle.

    Plan: one pass derives per-user first days (map-side-combined min
    agg keyed by user — the only user-cardinality shuffle), the
    distinct (user, day) activity frame joins it on user_id, and the
    matrix is a tiny (days x days)/2 aggregate. At scale the join key
    is the user id on both sides — co-partitioned, no skew beyond real
    user skew, and the first-day frame is far smaller than events
    (one row per user) so AQE can broadcast it outright.
    """
    ev = load_table(spark, sf_dir, "events")
    acts = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    firsts = acts.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        acts.join(firsts, "user_id")
        .select(
            "cohort_day",
            F.datediff("day", "cohort_day").alias("offset_days"),
        )
        .groupBy("cohort_day", "offset_days")
        .agg(F.count("*").alias("n_users"))
        .select(
            F.col("cohort_day").cast("string").alias("cohort_day"),
            "offset_days",
            "n_users",
        )
    )


USER_RETENTION_ORACLE = """
WITH acts AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
firsts AS (
  SELECT user_id, min(day) AS cohort_day FROM acts GROUP BY user_id
)
SELECT CAST(f.cohort_day AS VARCHAR) AS cohort_day,
       CAST(a.day - f.cohort_day AS INT) AS offset_days,
       count(*) AS n_users
FROM acts a JOIN firsts f ON a.user_id = f.user_id
GROUP BY 1, 2
"""


# ----------------------------------------------------- value deciles


def events_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type decile boundaries of value: NTILE(10) over the
    deterministic total order (value, event_id), reporting each
    decile's row count and max value — the bucket-boundary profile a
    pipeline uses to calibrate thresholds.

    The window sorts WITHIN each event type (5 partitions here;
    thousands at most in practice), so the sort parallelizes per
    type; the output is 10 rows per type however large the fact. Max
    per decile is order-insensitive (no decimal detour needed) and
    the tie-break on event_id makes NTILE assignment bit-reproducible
    across engines and retries.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.select(
            "event_type", "value", F.ntile(10).over(w).alias("decile")
        )
        .groupBy("event_type", "decile")
        .agg(F.count("*").alias("n_events"), F.max("value").alias("max_value"))
    )


EVENTS_VALUE_DECILES_ORACLE = """
SELECT event_type, decile, count(*) AS n_events, max(value) AS max_value
FROM (
  SELECT event_type, value,
         CAST(ntile(10) OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS INT) AS decile
  FROM events
)
GROUP BY event_type, decile
"""


# ---------------------------------------------------- winsorization


def events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorized statistics: clip values at the exact
    p01/p99 order statistics, report clipped sums and clip counts —
    the outlier-MITIGATION counterpart to ``events_value_outliers``'s
    outlier detection (robust aggregates instead of row removal).

    Boundaries are exact order statistics (the value at
    rank ceil(q*n) under the deterministic (value, event_id) order),
    computed with integer rank arithmetic — ``(n+99) div 100`` /
    ``(99n+99) div 100`` — so both engines pick the identical boundary
    ROW, not an interpolated float. The clipped sum rides the exact
    decimal pattern. At 100 TB the exact-rank window would yield to
    approx_percentile boundaries (same downstream plan); the clip
    pass itself is a broadcast join + map, scan-bound.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    stats = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    ranks = stats.select(
        "event_type",
        F.expr("CAST((n + 99) div 100 AS BIGINT)").alias("lo_rank"),
        F.expr("CAST((n * 99 + 99) div 100 AS BIGINT)").alias("hi_rank"),
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.select(
        "event_type", "value", F.row_number().over(w).alias("rn")
    )
    bounds = (
        ranked.join(F.broadcast(ranks), "event_type")
        .filter((F.col("rn") == F.col("lo_rank")) | (F.col("rn") == F.col("hi_rank")))
        .groupBy("event_type")
        .agg(
            F.min(F.when(F.col("rn") == F.col("lo_rank"), F.col("value"))).alias("lo"),
            F.min(F.when(F.col("rn") == F.col("hi_rank"), F.col("value"))).alias("hi"),
        )
    )
    clipped = F.when(F.col("value") < F.col("lo"), F.col("lo")).when(
        F.col("value") > F.col("hi"), F.col("hi")
    ).otherwise(F.col("value"))
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .select(
            "event_type",
            "lo",
            "hi",
            clipped.alias("cv"),
            (F.col("value") < F.col("lo")).cast("int").alias("clip_lo"),
            (F.col("value") > F.col("hi")).cast("int").alias("clip_hi"),
        )
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count("*").alias("n_events"),
            dsum_col("cv", "winsorized_sum", scale=6, precision=24),
            F.sum("clip_lo").alias("n_clipped_lo"),
            F.sum("clip_hi").alias("n_clipped_hi"),
        )
    )


EVENTS_WINSORIZED_STATS_ORACLE = f"""
WITH ev AS (SELECT event_id, event_type, value FROM events),
ranks AS (
  SELECT event_type,
         CAST((count(*) + 99) // 100 AS BIGINT) AS lo_rank,
         CAST((count(*) * 99 + 99) // 100 AS BIGINT) AS hi_rank
  FROM ev GROUP BY event_type
),
ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn
  FROM ev
),
bounds AS (
  SELECT r.event_type,
         min(CASE WHEN r.rn = k.lo_rank THEN r.value END) AS lo,
         min(CASE WHEN r.rn = k.hi_rank THEN r.value END) AS hi
  FROM ranked r JOIN ranks k ON r.event_type = k.event_type
  WHERE r.rn = k.lo_rank OR r.rn = k.hi_rank
  GROUP BY r.event_type
)
SELECT ev.event_type, b.lo, b.hi,
       count(*) AS n_events,
       {dsum_sql("CASE WHEN ev.value < b.lo THEN b.lo WHEN ev.value > b.hi THEN b.hi ELSE ev.value END", "winsorized_sum", scale=6, precision=24)},
       CAST(sum(CASE WHEN ev.value < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
       CAST(sum(CASE WHEN ev.value > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi
FROM ev JOIN bounds b ON ev.event_type = b.event_type
GROUP BY ev.event_type, b.lo, b.hi
"""


def events_winsorized_stats_fast(
    spark: SparkSession, sf_dir: str, accuracy: int = 10_000
) -> DataFrame:
    """The at-scale twin of :func:`events_winsorized_stats`: p01/p99
    clip boundaries from ``percentile_approx`` (the Greenwald-Khanna
    sketch — ONE map-side-combinable aggregate, mergeable partial
    state) instead of exact per-type rank windows (full per-type
    sorts). Same downstream broadcast-clip plan and output schema.

    This is the documented 100 TB path the exact variant's docstring
    promises ("exact ranks yield to approx_percentile boundaries,
    same downstream plan") — now in code, following the repo's
    fast-twin pattern (semantic_dedup_fast): the exact variant stays
    the oracle-gated correctness reference, this one is rows-only
    checked plus a pinned agreement pytest (boundaries within sketch
    tolerance of the exact order statistics, clip counts within the
    implied rank error, identical n_events). At sketch accuracy a
    the rank error is bounded by n/a per type.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    bounds = ev.groupBy("event_type").agg(
        F.percentile_approx("value", F.lit(0.01), F.lit(accuracy)).alias("lo"),
        F.percentile_approx("value", F.lit(0.99), F.lit(accuracy)).alias("hi"),
    )
    clipped = F.when(F.col("value") < F.col("lo"), F.col("lo")).when(
        F.col("value") > F.col("hi"), F.col("hi")
    ).otherwise(F.col("value"))
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .select(
            "event_type",
            "lo",
            "hi",
            clipped.alias("cv"),
            (F.col("value") < F.col("lo")).cast("int").alias("clip_lo"),
            (F.col("value") > F.col("hi")).cast("int").alias("clip_hi"),
        )
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count("*").alias("n_events"),
            dsum_col("cv", "winsorized_sum", scale=6, precision=24),
            F.sum("clip_lo").alias("n_clipped_lo"),
            F.sum("clip_hi").alias("n_clipped_hi"),
        )
    )


# ---------------------------------------- burst runs (r7)

BURST_THRESHOLD = 4  # events per hour; ~p75 of the driver corpus


def events_burst_runs(
    spark: SparkSession, sf_dir: str, threshold: int = BURST_THRESHOLD
) -> DataFrame:
    """Maximal CONSECUTIVE-hour runs where a type's volume stays at or
    above ``threshold`` — the gaps-and-islands alerting primitive
    ("how long did the error burst last"), distinct from
    ``user_sessions``' time-gap sessionization: islands here are
    defined by bucket adjacency, found with the classic
    index-minus-row_number constant-group trick.

    Portability: the island key is hour_index - row_number, where
    hour_index is ``timestampdiff(HOUR, <fixed literal>, bucket)`` —
    pure calendar arithmetic on naive timestamps, no epoch/timezone
    conversion for engines to disagree on.

    Plan: one hourly aggregate of the fact (map-side combined), then
    ONE per-type window over the ~bucket-count frame and a tiny
    group — everything after the first aggregate is bounded by
    hours x types, not by corpus size.

    Output: (event_type, run_start, run_end, n_hours, total_events,
    peak_events) per run.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    buckets = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= threshold)
    )
    hour_idx = F.expr(
        "timestampdiff(HOUR, TIMESTAMP_NTZ '2024-01-01 00:00:00', h)"
    )
    w = Window.partitionBy("event_type").orderBy("h")
    grp = (hour_idx - F.row_number().over(w)).alias("grp")
    return (
        buckets.select("event_type", "h", "n", grp)
        .groupBy("event_type", "grp")
        .agg(
            F.min("h").alias("run_start"),
            F.max("h").alias("run_end"),
            F.count("*").alias("n_hours"),
            F.sum("n").alias("total_events"),
            F.max("n").alias("peak_events"),
        )
        .drop("grp")
    )


EVENTS_BURST_RUNS_ORACLE = f"""
WITH b AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
  FROM events GROUP BY 1, 2
),
above AS (SELECT * FROM b WHERE n >= {BURST_THRESHOLD}),
grps AS (
  SELECT event_type, h, n,
         datediff('hour', TIMESTAMP '2024-01-01 00:00:00', h)
           - row_number() OVER (PARTITION BY event_type ORDER BY h) AS grp
  FROM above
)
SELECT event_type,
       min(h) AS run_start,
       max(h) AS run_end,
       count(*) AS n_hours,
       CAST(sum(n) AS BIGINT) AS total_events,
       CAST(max(n) AS BIGINT) AS peak_events
FROM grps
GROUP BY event_type, grp
"""


# --------------------------------- distribution drift audit (r8)

DRIFT_BINS = 10
# chi-square critical value, df = DRIFT_BINS - 1 = 9, p = 0.05
DRIFT_THRESHOLD = 16.92


def events_drift_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type value-distribution DRIFT between the first and second
    half of the time range — the data-quality gate a pipeline runs
    before trusting a new ingest window: bin the reference (early)
    half into DRIFT_BINS fixed-width buckets, project the late half
    onto the same bins, and score Pearson's chi-square of observed
    late counts vs early-proportioned expectations.

    Deliberately log-free (the PSI formulation needs ln(), whose last
    libm bit is engine-specific — same portability rule as the HLL
    family's raw estimator): chi-square is pure +,×,÷ arithmetic, so
    the whole statistic hash-matches in DuckDB. Add-one smoothing on
    every bin (both halves) keeps expectations positive without
    data-dependent branching. All per-bin double terms sum through
    the exact decimal pattern so partial-agg merge order cannot
    perturb the result.

    Plan shape: two scans' worth of aggregates off ONE events scan —
    the day-midpoint and per-type early min/max are tiny broadcast
    frames; the bin histogram is a single (type, half, bucket)
    partial-agg shuffle; the chi-square folds over a
    types × DRIFT_BINS spine (dashboard-sized at any corpus scale).

    A type with NO early rows (first appears in the new ingest
    window) has no reference frame to score against — it is exactly
    the anomaly this gate exists for, so it is kept via a LEFT join
    (all its rows in a degenerate bucket 0) and force-flagged
    ``drifted`` through the ``n_early = 0`` disjunct.

    Output: (event_type, n_early, n_late, chi_sq, drifted).
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    rows = ev.select("event_type", "value", day.alias("day"))
    # integer div, not /2-then-cast: Spark's double->bigint cast
    # TRUNCATES while DuckDB's rounds half-to-even — a .5 midpoint
    # would split the halves differently (caught by the oracle)
    mid = rows.agg(
        F.expr("(min(day) + max(day)) div 2").cast("bigint").alias("mid")
    )
    halved = rows.crossJoin(F.broadcast(mid)).select(
        "event_type",
        "value",
        (F.col("day") <= F.col("mid")).alias("early"),
    )
    ref = (
        halved.filter("early")
        .groupBy("event_type")
        .agg(
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
    )
    width = (F.col("vmax") - F.col("vmin")) / F.lit(float(DRIFT_BINS))
    # LEFT join: a type that first appears in the late half has no
    # early reference frame — precisely the new-ingest anomaly the
    # gate exists to flag (r8 advisor finding). Its rows all land in
    # bucket 0 (degenerate single bin) and the type is force-flagged
    # below via n_early = 0.
    binned = (
        halved.join(F.broadcast(ref), "event_type", "left")
        .select(
            "event_type",
            "early",
            F.when(
                F.col("vmax").isNull() | (F.col("vmax") == F.col("vmin")),
                F.lit(0),
            )
            .otherwise(
                F.least(
                    F.lit(DRIFT_BINS - 1),
                    F.greatest(
                        F.lit(0),
                        F.floor((F.col("value") - F.col("vmin")) / width).cast(
                            "int"
                        ),
                    ),
                )
            )
            .alias("bucket"),
        )
    )
    hist = binned.groupBy("event_type", "bucket").agg(
        F.sum(F.when(F.col("early"), 1).otherwise(0)).alias("e_cnt"),
        F.sum(F.when(~F.col("early"), 1).otherwise(0)).alias("l_cnt"),
    )
    spine = (
        hist.select("event_type")
        .distinct()
        .crossJoin(
            spark.range(1).select(
                F.explode(
                    F.sequence(F.lit(0), F.lit(DRIFT_BINS - 1))
                ).alias("bucket")
            )
        )
        .select("event_type", F.col("bucket").cast("int").alias("bucket"))
    )
    full = spine.join(hist, ["event_type", "bucket"], "left").select(
        "event_type",
        "bucket",
        F.coalesce("e_cnt", F.lit(0)).alias("e_cnt"),
        F.coalesce("l_cnt", F.lit(0)).alias("l_cnt"),
    )
    totals = full.groupBy("event_type").agg(
        F.sum("e_cnt").alias("n_early"), F.sum("l_cnt").alias("n_late")
    )
    # add-one smoothing: o = l_cnt + 1, e = (e_cnt + 1) scaled to the
    # smoothed late total — every factor in one fixed multiply order
    withn = full.join(F.broadcast(totals), "event_type")
    o = (F.col("l_cnt") + 1).cast("double")
    e = (
        (F.col("e_cnt") + 1).cast("double")
        * (F.col("n_late") + DRIFT_BINS).cast("double")
        / (F.col("n_early") + DRIFT_BINS).cast("double")
    )
    term = (o - e) * (o - e) / e
    out = withn.groupBy("event_type").agg(
        F.max("n_early").alias("n_early"),
        F.max("n_late").alias("n_late"),
        dsum_expr(term, "chi_sq"),
    )
    return out.select(
        "event_type",
        "n_early",
        "n_late",
        "chi_sq",
        (
            (F.col("chi_sq") > F.lit(DRIFT_THRESHOLD))
            | (F.col("n_early") == 0)
        ).alias("drifted"),
    )


EVENTS_DRIFT_CHISQ_ORACLE = f"""
WITH rows_d AS (
  SELECT event_type, value,
         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
  FROM events
),
mid AS (
  SELECT CAST((min(day) + max(day)) // 2 AS BIGINT) AS mid FROM rows_d
),
halved AS (
  SELECT event_type, value, day <= (SELECT mid FROM mid) AS early
  FROM rows_d
),
ref AS (
  SELECT event_type, min(value) AS vmin, max(value) AS vmax
  FROM halved WHERE early GROUP BY event_type
),
binned AS (
  SELECT h.event_type, h.early,
         CASE WHEN r.vmax IS NULL OR r.vmax = r.vmin THEN 0
              ELSE least({DRIFT_BINS - 1}, greatest(0,
                CAST(floor((h.value - r.vmin)
                           / ((r.vmax - r.vmin) / {float(DRIFT_BINS)}))
                     AS INT)))
         END AS bucket
  FROM halved h LEFT JOIN ref r ON h.event_type = r.event_type
),
hist AS (
  SELECT event_type, bucket,
         sum(CASE WHEN early THEN 1 ELSE 0 END) AS e_cnt,
         sum(CASE WHEN early THEN 0 ELSE 1 END) AS l_cnt
  FROM binned GROUP BY event_type, bucket
),
spine AS (
  SELECT event_type, CAST(r.range AS INT) AS bucket
  FROM (SELECT DISTINCT event_type FROM hist), range({DRIFT_BINS}) r
),
full_h AS (
  SELECT s.event_type, s.bucket,
         coalesce(h.e_cnt, 0) AS e_cnt, coalesce(h.l_cnt, 0) AS l_cnt
  FROM spine s LEFT JOIN hist h
    ON s.event_type = h.event_type AND s.bucket = h.bucket
),
totals AS (
  SELECT event_type, sum(e_cnt) AS n_early, sum(l_cnt) AS n_late
  FROM full_h GROUP BY event_type
),
terms AS (
  SELECT f.event_type, t.n_early, t.n_late,
         (CAST(f.l_cnt + 1 AS DOUBLE)
          - CAST(f.e_cnt + 1 AS DOUBLE)
            * CAST(t.n_late + {DRIFT_BINS} AS DOUBLE)
            / CAST(t.n_early + {DRIFT_BINS} AS DOUBLE))
         * (CAST(f.l_cnt + 1 AS DOUBLE)
          - CAST(f.e_cnt + 1 AS DOUBLE)
            * CAST(t.n_late + {DRIFT_BINS} AS DOUBLE)
            / CAST(t.n_early + {DRIFT_BINS} AS DOUBLE))
         / (CAST(f.e_cnt + 1 AS DOUBLE)
            * CAST(t.n_late + {DRIFT_BINS} AS DOUBLE)
            / CAST(t.n_early + {DRIFT_BINS} AS DOUBLE)) AS term
  FROM full_h f JOIN totals t ON f.event_type = t.event_type
),
agg AS (
  SELECT event_type,
         max(n_early) AS n_early,
         max(n_late) AS n_late,
         {dsum_sql('term', 'chi_sq')}
  FROM terms
  GROUP BY event_type
)
SELECT event_type,
       CAST(n_early AS BIGINT) AS n_early,
       CAST(n_late AS BIGINT) AS n_late,
       chi_sq,
       (chi_sq > {DRIFT_THRESHOLD} OR n_early = 0) AS drifted
FROM agg
"""
