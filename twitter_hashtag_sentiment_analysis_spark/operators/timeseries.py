"""Time-series operators over the `events` table: batch sessionization
and gap-filled resampling.

These are the batch twins of the streaming window family
(streaming/queries.py): identical semantics computed over data at rest.
Both are window/agg shapes whose shuffles are keyed by the natural
entity (user, event_type) — the partitioning a 100 TB event store is
already bucketed by, so in production these run shuffle-free on
bucketed tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import epoch_us, table
from ..registry import REGISTRY, register

#: Session gap: a pause longer than this starts a new session (micros).
SESSION_GAP_US = 30 * 60 * 1_000_000


@register(
    "ts_sessionize",
    sql=f"""
        WITH marked AS (
            SELECT user_id, ts, value,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                             > {SESSION_GAP_US}
                        OR lag(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, ts, value,
                   sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_idx
            FROM marked
        )
        SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
               CAST(count(*) AS BIGINT) AS n_events,
               min(ts) AS session_start, max(ts) AS session_end,
               round(sum(value), 4) AS session_value
        FROM sessions
        GROUP BY user_id, session_idx
    """,
)
def ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: per user, a gap > 30 min starts a new
    session (the classic lag -> flag -> running-sum pattern; the exact
    batch semantics of `session_window` in the streaming suite). One
    shuffle on user_id serves both windows AND the final per-session
    aggregate. Gap compare is in integer micros (unix_micros/epoch_us)
    — bit-identical across engines, no float time arithmetic."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "ts",
        "value",
        F.when(
            (
                epoch_us("ts") - F.lag(epoch_us("ts")).over(w)
                > SESSION_GAP_US
            )
            | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = marked.withColumn("session_idx", F.sum("is_new").over(wrun).cast("long"))
    return sess.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.round(F.sum("value"), 4).alias("session_value"),
    )


@register(
    "ts_resample_gapfill",
    sql="""
        WITH bounds AS (
            SELECT event_type,
                   date_trunc('hour', min(ts)) AS lo,
                   date_trunc('hour', max(ts)) AS hi
            FROM events GROUP BY event_type
        ),
        spine AS (
            SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
            FROM bounds
        ),
        hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS bucket,
                   CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS total
            FROM events GROUP BY 1, 2
        )
        SELECT s.event_type, s.bucket,
               COALESCE(h.n, 0) AS n,
               COALESCE(h.total, 0.0) AS total
        FROM spine s LEFT JOIN hourly h
          ON s.event_type = h.event_type AND s.bucket = h.bucket
    """,
)
def ts_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample with gap filling: aggregate events into 1-hour
    buckets per type, then LEFT-join against a generated dense bucket
    spine so silent hours appear as explicit zeros (what every
    monitoring/training-curriculum rollup needs — absent rows are
    invisible to downstream averages). The spine is sequence() over
    [min, max] per type: ~24*days rows per type, trivially broadcast;
    the only data-sized shuffle is the hourly pre-aggregate, which
    partial-aggregates map-side first."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
    bounds = ev.groupBy("event_type").agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket"),
    )
    return (
        spine.join(hourly, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("total", F.lit(0.0)).alias("total"),
        )
    )


#: Anomaly detection window: trailing history size and minimum history
#: before a point can be judged (variance of < 5 points is noise).
ANOM_LOOKBACK = 20
ANOM_MIN_PRIOR = 5
ANOM_Z = 2.5


@register(
    "ts_anomaly_zscore",
    sql=f"""
        WITH stats AS (
            SELECT event_id, user_id, ts, value,
                   avg(value) OVER w AS mu,
                   stddev_samp(value) OVER w AS sigma,
                   count(*) OVER w AS n_prior
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN {ANOM_LOOKBACK} PRECEDING
                                  AND 1 PRECEDING)
        )
        SELECT event_id, user_id, ts, value,
               round((value - mu) / sigma, 3) AS z
        FROM stats
        WHERE n_prior >= {ANOM_MIN_PRIOR}
          AND sigma > 1e-9
          AND abs((value - mu) / sigma) > {ANOM_Z}
    """,
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each event is judged against
    the mean/stddev of its user's trailing ANOM_LOOKBACK events — the
    PRECEDING-only frame excludes the current point so an outlier can't
    mask itself (the self-inclusion bug naive rolling z-scores have).
    One shuffle on user_id serves both window aggregates; the frame is
    rows-bounded so state per key is O(LOOKBACK) regardless of history
    length — the same plan at 100 TB with user-bucketed storage runs
    shuffle-free. Points with under ANOM_MIN_PRIOR predecessors or ~zero
    variance are unjudgeable and excluded on BOTH engines."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-ANOM_LOOKBACK, -1)
    )
    stats = ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sigma"),
        F.count("*").over(w).alias("n_prior"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        stats.filter(
            (F.col("n_prior") >= ANOM_MIN_PRIOR)
            & (F.col("sigma") > 1e-9)
            & (F.abs(z) > ANOM_Z)
        )
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            F.round(z, 3).alias("z"),
        )
    )


@register(
    "event_funnel",
    sql="""
        WITH s1 AS (
            SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'signup' GROUP BY user_id
        ),
        s2 AS (
            SELECT e.user_id, min(e.ts) AS t2
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'click' AND e.ts > s1.t1
            GROUP BY e.user_id
        ),
        s3 AS (
            SELECT e.user_id, min(e.ts) AS t3
            FROM events e JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > s2.t2
            GROUP BY e.user_id
        ),
        counts AS (
            SELECT 'signup' AS step, 1 AS step_order,
                   CAST(count(*) AS BIGINT) AS n_users FROM s1
            UNION ALL
            SELECT 'click', 2, CAST(count(*) AS BIGINT) FROM s2
            UNION ALL
            SELECT 'purchase', 3, CAST(count(*) AS BIGINT) FROM s3
        )
        SELECT step, step_order, n_users,
               round(n_users * 1.0 /
                     (SELECT n_users FROM counts WHERE step_order = 1),
                     4) AS conv_from_first
        FROM counts
    """,
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step funnel (signup -> click -> purchase): a user counts
    for step N only with an event AFTER their step-N-1 time — the
    strict-ordering semantic that separates funnel analysis from plain
    conditional counts (a purchase before signup doesn't convert).
    Correlated 'first event after t' subqueries are decorrelated into a
    chain of min-aggregates joined on user_id: every stage shuffles on
    the SAME key, so Catalyst reuses one partitioning end-to-end and
    each step's state is one timestamp per user. Output: per-step user
    counts + conversion vs step 1 (1-row broadcast divisor). The lazy
    plan re-runs s1 and s2 for each of their consumers (7 event scans);
    checkpointing both was a wash at x100 (SCALING.md, r16
    adjudication 2)."""
    ev = table(spark, sf_dir, "events")

    def first_after(prev: DataFrame, etype: str, tcol: str, out: str) -> DataFrame:
        e = ev.filter(F.col("event_type") == etype)
        return (
            e.join(prev, "user_id")
            .filter(F.col("ts") > F.col(tcol))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )

    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = first_after(s1.select("user_id", "t1"), "click", "t1", "t2")
    s3 = first_after(s2, "purchase", "t2", "t3")
    counts = (
        s1.agg(F.count("*").alias("n_users")).select(
            F.lit("signup").alias("step"), F.lit(1).alias("step_order"), "n_users"
        )
        .unionAll(
            s2.agg(F.count("*").alias("n_users")).select(
                F.lit("click").alias("step"), F.lit(2).alias("step_order"), "n_users"
            )
        )
        .unionAll(
            s3.agg(F.count("*").alias("n_users")).select(
                F.lit("purchase").alias("step"),
                F.lit(3).alias("step_order"),
                "n_users",
            )
        )
    )
    first = counts.filter(F.col("step_order") == 1).select(
        F.col("n_users").alias("n_first")
    )
    return counts.join(F.broadcast(first)).select(
        "step",
        "step_order",
        "n_users",
        F.round(F.col("n_users") / F.col("n_first"), 4).alias("conv_from_first"),
    )


@register(
    "ts_ohlc_resample",
    sql="""
        WITH ranked AS (
            SELECT event_type,
                   date_trunc('hour', ts) AS bucket,
                   value,
                   row_number() OVER (
                       PARTITION BY event_type, date_trunc('hour', ts)
                       ORDER BY ts, event_id) AS rn_a,
                   row_number() OVER (
                       PARTITION BY event_type, date_trunc('hour', ts)
                       ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM events
        )
        SELECT event_type, bucket,
               round(max(CASE WHEN rn_a = 1 THEN value END), 2) AS open,
               round(max(value), 2) AS high,
               round(min(value), 2) AS low,
               round(max(CASE WHEN rn_d = 1 THEN value END), 2) AS close,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2) AS volume
        FROM ranked
        GROUP BY event_type, bucket
    """,
)
def ts_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candle resampling — the canonical time-series-DB downsample
    (open/high/low/close + count + volume per (series, hour)). ONE hash
    aggregate: open/close ride min_by/max_by over a (ts, event_id)
    struct key — no window, no second shuffle, and the struct tie-break
    makes first/last deterministic under any partitioning (a bare
    first()/last() would be arrival-order nondeterministic). min_by/
    max_by partial states merge associatively, so the aggregate is
    map-side combinable — the property that makes hourly rollups of a
    100 TB tick store a single linear pass. (The oracle expresses
    open/close as rank-1 rows under the same composite order — DuckDB's
    arg_min does not take struct keys — identical semantics.)"""
    ev = table(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("bucket")
        )
        .agg(
            F.round(F.min_by("value", key), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max_by("value", key), 2).alias("close"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("volume"),
        )
    )


@register(
    "ts_interpolate_linear",
    sql="""
        WITH bounds AS (
            SELECT event_type,
                   date_trunc('hour', min(ts)) AS lo,
                   date_trunc('hour', max(ts)) AS hi
            FROM events GROUP BY event_type
        ),
        spine AS (
            SELECT event_type,
                   unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
            FROM bounds
        ),
        hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS bucket,
                   round(avg(value), 6) AS obs
            FROM events GROUP BY 1, 2
        ),
        grid AS (
            SELECT s.event_type, s.bucket, h.obs,
                   row_number() OVER (PARTITION BY s.event_type
                                      ORDER BY s.bucket) AS idx
            FROM spine s LEFT JOIN hourly h
              ON s.event_type = h.event_type AND s.bucket = h.bucket
        ),
        anchored AS (
            SELECT event_type, bucket, obs, idx,
                   last_value(obs IGNORE NULLS) OVER w_prev AS prev_obs,
                   last_value(CASE WHEN obs IS NOT NULL THEN idx END
                              IGNORE NULLS) OVER w_prev AS prev_idx,
                   first_value(obs IGNORE NULLS) OVER w_next AS next_obs,
                   first_value(CASE WHEN obs IS NOT NULL THEN idx END
                               IGNORE NULLS) OVER w_next AS next_idx
            FROM grid
            WINDOW
                w_prev AS (PARTITION BY event_type ORDER BY idx
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                w_next AS (PARTITION BY event_type ORDER BY idx
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT event_type, bucket,
               obs IS NULL AS filled,
               floor(CASE
                   WHEN obs IS NOT NULL THEN obs
                   WHEN prev_obs IS NULL THEN next_obs
                   WHEN next_obs IS NULL THEN prev_obs
                   ELSE prev_obs + (next_obs - prev_obs) * (idx - prev_idx)
                        / (next_idx - prev_idx)
               END * 10000 + 0.5) / 10000 AS value_interp
        FROM anchored
    """,
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filling by LINEAR INTERPOLATION on the hourly grid: where
    `ts_resample_gapfill` writes explicit zeros, this draws the line
    between the nearest observed hours — the fill a metric that *levels*
    (sensor reading, price, mean event value) needs, where zero-fill
    would fabricate collapses. Silent hours get
    prev + (next-prev) * gap_fraction; leading/trailing gaps clamp to
    the nearest observation. Interpolation runs on slot INDEX, not raw
    epoch arithmetic — the spine is dense so index distance == hour
    distance, and integer index math sidesteps cross-engine timestamp
    subtleties; the hourly mean is rounded to 6 decimals FIRST (the two
    engines sum in different orders — an ulp of drift under a rounding
    boundary flips the last digit, observed at sf0.001), so the
    interpolation arithmetic — written identically in both engines, so
    IEEE evaluation order matches — runs on bit-identical anchors. The
    final rounding is an explicit floor(x*1e4 + 0.5)/1e4 in BOTH
    engines: interpolating 6-decimal anchors at gap fraction 1/2 lands
    on decimal half-boundaries routinely, where Spark's round()
    (HALF_UP on the double's shortest decimal form) and DuckDB's
    (floor-form on the binary value) genuinely disagree — observed as a
    last-digit flip at sf0.01. Spelling the floor form out makes the
    rounding itself identical double arithmetic.

    Scale shape: the hourly pre-aggregate is the only data-sized
    shuffle (partial-aggregated map-side). Everything after runs on the
    dense grid — ~24*days rows per type — so the four anchor windows
    cost grid-sized sorts, not data-sized ones. At 100 TB of events the
    grid is still only thousands of rows per (type, year)."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.round(F.avg("value"), 6).alias("obs"))
    bounds = ev.groupBy("event_type").agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias(
            "bucket"
        ),
    )
    grid = spine.join(hourly, ["event_type", "bucket"], "left").withColumn(
        "idx",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("bucket")
        ),
    )
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("idx")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_idx = F.when(F.col("obs").isNotNull(), F.col("idx"))
    anchored = grid.select(
        "event_type",
        "bucket",
        "obs",
        "idx",
        F.last("obs", ignorenulls=True).over(w_prev).alias("prev_obs"),
        F.last(obs_idx, ignorenulls=True).over(w_prev).alias("prev_idx"),
        F.first("obs", ignorenulls=True).over(w_next).alias("next_obs"),
        F.first(obs_idx, ignorenulls=True).over(w_next).alias("next_idx"),
    )
    interp = (
        F.when(F.col("obs").isNotNull(), F.col("obs"))
        .when(F.col("prev_obs").isNull(), F.col("next_obs"))
        .when(F.col("next_obs").isNull(), F.col("prev_obs"))
        .otherwise(
            F.col("prev_obs")
            + (F.col("next_obs") - F.col("prev_obs"))
            * (F.col("idx") - F.col("prev_idx"))
            / (F.col("next_idx") - F.col("prev_idx"))
        )
    )
    return anchored.select(
        "event_type",
        "bucket",
        F.col("obs").isNull().alias("filled"),
        (F.floor(interp * 10000 + 0.5) / 10000).alias("value_interp"),
    )


@register(
    "event_retention_cohort",
    sql="""
        WITH firsts AS (
            -- DuckDB's week-trunc yields DATE; cast back so the column
            -- type matches Spark's TIMESTAMP date_trunc
            SELECT user_id,
                   CAST(date_trunc('week', min(ts)) AS TIMESTAMP)
                       AS cohort_week
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('week', ts) AS TIMESTAMP) AS activity_week
            FROM events
        ),
        offsets AS (
            SELECT f.cohort_week,
                   CAST(date_diff('day', f.cohort_week, a.activity_week) / 7
                        AS INTEGER) AS week_offset,
                   a.user_id
            FROM activity a JOIN firsts f ON a.user_id = f.user_id
        ),
        sizes AS (
            SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_cohort
            FROM firsts GROUP BY cohort_week
        )
        SELECT o.cohort_week, o.week_offset, s.n_cohort,
               CAST(count(DISTINCT o.user_id) AS BIGINT) AS n_active,
               round(100.0 * count(DISTINCT o.user_id) / s.n_cohort, 2)
                   AS retention_pct
        FROM offsets o JOIN sizes s ON o.cohort_week = s.cohort_week
        GROUP BY o.cohort_week, o.week_offset, s.n_cohort
    """,
)
def event_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the canonical product-analytics query
    (reference scope: per-user event streams, stream_processor.py's
    user_id field): users are cohorted by the week of their FIRST
    event, and each (cohort_week, week_offset) cell counts how many of
    them were active that many weeks later, as an absolute count and a
    percentage of the cohort.

    Scale shape: two user-keyed aggregations (first-event, distinct
    activity weeks) ride the SAME shuffle key, so on a user-bucketed
    event store both are shuffle-free; the cohort-cell aggregate then
    runs on |users x weeks| rows, orders of magnitude smaller than the
    event log. The cohort-size side is week-cardinality tiny and
    broadcast. week_offset is integer day-arithmetic on week-truncated
    timestamps (always a multiple of 7), so the division is exact in
    both engines."""
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("activity_week")
    ).distinct()
    offsets = activity.join(firsts, "user_id").select(
        "cohort_week",
        (F.datediff("activity_week", "cohort_week") / 7)
        .cast("int")
        .alias("week_offset"),
        "user_id",
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.count("*").cast("long").alias("n_cohort")
    )
    return (
        offsets.join(F.broadcast(sizes), "cohort_week")
        .groupBy("cohort_week", "week_offset", "n_cohort")
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
        .select(
            "cohort_week",
            "week_offset",
            "n_cohort",
            "n_active",
            F.round(100.0 * F.col("n_active") / F.col("n_cohort"), 2).alias(
                "retention_pct"
            ),
        )
    )


@register(
    "event_attribution",
    sql="""
        WITH marked AS (
            SELECT user_id, ts, event_id, event_type, value,
                   last_value(CASE WHEN event_type IN ('click', 'view')
                                   THEN event_type END IGNORE NULLS)
                       OVER w AS last_touch_type,
                   last_value(CASE WHEN event_type IN ('click', 'view')
                                   THEN ts END IGNORE NULLS)
                       OVER w AS last_touch_ts
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT CASE WHEN last_touch_ts IS NOT NULL
                         AND last_touch_ts >= ts - INTERVAL 24 HOUR
                    THEN last_touch_type ELSE 'organic' END AS channel,
               CAST(count(*) AS BIGINT) AS n_purchases,
               round(sum(value), 2) AS attributed_value
        FROM marked
        WHERE event_type = 'purchase'
        GROUP BY 1
    """,
)
def event_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent click/view within a 24-hour lookback, else 'organic'.
    Expressed as a running `last(..., ignorenulls)` window rather than
    an as-of self-join — ONE user-keyed sort instead of a join of two
    event-sized sides (the join form shuffles the log twice; this
    shape shuffles it once and is shuffle-free on a user-bucketed
    store). Ties at identical timestamps break on event_id in both
    engines. The 24 h eligibility test happens AFTER the carry-forward,
    so an expired touch falls back to 'organic' rather than sliding to
    an older one — the standard last-touch-window semantics."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_touch = F.col("event_type").isin("click", "view")
    marked = ev.select(
        "ts",
        "event_type",
        "value",
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("last_touch_type"),
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("last_touch_ts"),
    )
    eligible = F.col("last_touch_ts").isNotNull() & (
        F.col("last_touch_ts")
        >= F.col("ts") - F.expr("INTERVAL 24 HOURS")
    )
    return (
        marked.filter(F.col("event_type") == "purchase")
        .select(
            F.when(eligible, F.col("last_touch_type"))
            .otherwise(F.lit("organic"))
            .alias("channel"),
            "value",
        )
        .groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("attributed_value"),
        )
    )


#: EWMA lookback depth (rows) and decay. Alpha 0.5 => weights are exact
#: binary powers, so the weighted sum is bit-identical across engines.
EWMA_DEPTH = 8


@register(
    "ts_ewma",
    sql="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS bucket,
                   round(avg(value), 6) AS obs
            FROM events GROUP BY 1, 2
        ),
        lagged AS (
            SELECT event_type, bucket, obs,
                   lag(obs, 1) OVER w AS x1, lag(obs, 2) OVER w AS x2,
                   lag(obs, 3) OVER w AS x3, lag(obs, 4) OVER w AS x4,
                   lag(obs, 5) OVER w AS x5, lag(obs, 6) OVER w AS x6,
                   lag(obs, 7) OVER w AS x7
            FROM hourly
            WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
        )
        SELECT event_type, bucket, obs,
               floor((obs * 1.0
                      + coalesce(x1, 0) * 0.5
                      + coalesce(x2, 0) * 0.25
                      + coalesce(x3, 0) * 0.125
                      + coalesce(x4, 0) * 0.0625
                      + coalesce(x5, 0) * 0.03125
                      + coalesce(x6, 0) * 0.015625
                      + coalesce(x7, 0) * 0.0078125)
                     / (1.0
                        + CASE WHEN x1 IS NULL THEN 0 ELSE 0.5 END
                        + CASE WHEN x2 IS NULL THEN 0 ELSE 0.25 END
                        + CASE WHEN x3 IS NULL THEN 0 ELSE 0.125 END
                        + CASE WHEN x4 IS NULL THEN 0 ELSE 0.0625 END
                        + CASE WHEN x5 IS NULL THEN 0 ELSE 0.03125 END
                        + CASE WHEN x6 IS NULL THEN 0 ELSE 0.015625 END
                        + CASE WHEN x7 IS NULL THEN 0 ELSE 0.0078125 END)
                     * 1000000 + 0.5) / 1000000 AS ewma
        FROM lagged
    """,
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average over the hourly mean
    series, depth-bounded to EWMA_DEPTH rows (alpha = 0.5, so the
    truncated tail carries < 0.8% of the mass). The bounded form is
    deliberate: true EWMA is a sequential recurrence y_t = a*x_t +
    (1-a)*y_{t-1} that no parallel engine evaluates without a serial
    scan per key; the depth-K expansion turns it into K window lags —
    a SINGLE per-key sort, embarrassingly parallel across keys, and
    exactly what a 1000-executor cluster can run on a bucketed store
    with no shuffle at all. Cross-engine determinism by construction:
    anchors are pre-rounded hourly means, weights are exact binary
    powers, and the weighted sum is written as the same left-associated
    chain in both engines, so every intermediate double is
    bit-identical; the final rounding is the floor(x*1e6+0.5) form
    (see ts_interpolate_linear for why round() differs between
    engines)."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.round(F.avg("value"), 6).alias("obs"))
    w = Window.partitionBy("event_type").orderBy("bucket")
    lags = [F.col("obs")] + [
        F.lag("obs", i).over(w) for i in range(1, EWMA_DEPTH)
    ]
    num = lags[0] * F.lit(1.0)
    den = F.lit(1.0)
    for i in range(1, EWMA_DEPTH):
        wt = 0.5**i
        num = num + F.coalesce(lags[i], F.lit(0.0)) * F.lit(wt)
        den = den + F.when(lags[i].isNull(), F.lit(0.0)).otherwise(
            F.lit(wt)
        )
    return hourly.select(
        "event_type",
        "bucket",
        "obs",
        (F.floor(num / den * 1_000_000 + 0.5) / 1_000_000).alias("ewma"),
    )


@register(
    "event_streaks",
    sql="""
        WITH days AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ),
        islands AS (
            SELECT user_id, day,
                   day - CAST(row_number() OVER (
                       PARTITION BY user_id ORDER BY day) AS INTEGER)
                       AS anchor
            FROM days
        ),
        streaks AS (
            SELECT user_id, anchor,
                   CAST(count(*) AS BIGINT) AS streak_len,
                   min(day) AS streak_start
            FROM islands GROUP BY user_id, anchor
        ),
        ranked AS (
            SELECT user_id, streak_len, streak_start,
                   row_number() OVER (PARTITION BY user_id
                       ORDER BY streak_len DESC, streak_start) AS rk
            FROM streaks
        )
        SELECT user_id, streak_len AS longest_streak, streak_start
        FROM ranked WHERE rk = 1
    """,
)
def event_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands pattern in its date form: distinct activity days,
    then `day - row_number()` collapses each run of consecutive days to
    a constant anchor, one aggregate per (user, anchor) island, and a
    per-user top-1 on (length DESC, start ASC). Distinct from
    `ts_sessionize`, which islands on intra-day time gaps; this is the
    retention-facing calendar streak. All three steps key on user_id —
    ONE shuffle serves the distinct, both windows, and the island
    aggregate (Spark reuses the hash partitioning), and the per-user
    top-1 is a WindowGroupLimit, not a global sort. Day arithmetic is
    pure integer date math — no float anywhere."""
    ev = table(spark, sf_dir, "events")
    # One explicit user_id shuffle up front: HashPartitioning(user_id)
    # satisfies the distinct's (user_id, day) clustering AND both
    # windows AND the island aggregate, so the whole query runs on a
    # single exchange (plan-asserted).
    days = (
        ev.select("user_id", F.to_date("ts").alias("day"))
        .repartition("user_id")
        .distinct()
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy("day")
    )
    islands = days.select(
        "user_id", "day", F.date_sub("day", rn).alias("anchor")
    )
    streaks = islands.groupBy("user_id", "anchor").agg(
        F.count("*").cast("long").alias("streak_len"),
        F.min("day").alias("streak_start"),
    )
    rk = F.row_number().over(
        Window.partitionBy("user_id").orderBy(
            F.col("streak_len").desc(), F.col("streak_start")
        )
    )
    return (
        streaks.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("streak_len").alias("longest_streak"),
            "streak_start",
        )
    )


@register(
    "event_markov",
    sql="""
        WITH seq AS (
            SELECT event_type AS cur,
                   lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS nxt
            FROM events
        ),
        counts AS (
            SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
            FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
        )
        SELECT cur, nxt, n,
               round(1.0 * n / sum(n) OVER (PARTITION BY cur), 6) AS p
        FROM counts
    """,
)
def event_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current) — the behavioral model a
    recommendation/churn pipeline derives from the clickstream. One
    user-keyed window (lead) feeds one transition-count aggregate; the
    row-normalizing window then runs on the |types|^2-sized counts
    relation, which is trivially small at any corpus scale. Counts are
    integers, each probability is one rounded division of them —
    nothing order-dependent anywhere."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    counts = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w_cur = Window.partitionBy("cur")
    return counts.select(
        "cur",
        "nxt",
        "n",
        F.round(F.lit(1.0) * F.col("n") / F.sum("n").over(w_cur), 6).alias(
            "p"
        ),
    )


#: Lead-lag cross-correlation scan depth (hours).
XCORR_MAX_LAG = 6


@register(
    "ts_lag_correlation",
    sql=f"""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS bucket, event_type,
                   round(avg(value), 6) AS v
            FROM events GROUP BY 1, 2
        ),
        clicks AS (SELECT bucket, v FROM hourly WHERE event_type = 'click'),
        buys AS (SELECT bucket, v FROM hourly WHERE event_type = 'purchase'),
        lags AS (SELECT unnest(range(0, {XCORR_MAX_LAG + 1})) AS lag_h)
        SELECT l.lag_h,
               CAST(count(*) AS BIGINT) AS n_pairs,
               round(corr(c.v, b.v), 4) + 0.0 AS xcorr
        FROM lags l
        JOIN clicks c ON TRUE
        JOIN buys b ON b.bucket = c.bucket + to_hours(l.lag_h)
        GROUP BY l.lag_h
    """,
)
def ts_lag_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between the hourly click and purchase
    series: corr(click_t, purchase_(t+k)) for k = 0..XCORR_MAX_LAG —
    'do clicks lead purchases, and by how many hours?', the
    attribution-window calibration a funnel analyst runs before picking
    the 24 h lookback. Built on the ALIGNED dense join of two
    grid-sized series (the hourly pre-aggregate is the only data-sized
    shuffle; everything after is |hours| x |lags| rows). Anchors are
    pre-rounded hourly means (the repo's cross-engine discipline) and
    corr is the same mergeable moment sketch both engines define
    identically (see agg_stats) rounded to 4."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"),
        "event_type",
    ).agg(F.round(F.avg("value"), 6).alias("v"))
    clicks = hourly.filter(F.col("event_type") == "click").select(
        "bucket", F.col("v").alias("cv")
    )
    buys = hourly.filter(F.col("event_type") == "purchase").select(
        F.col("bucket").alias("b_bucket"), F.col("v").alias("bv")
    )
    lags = spark.range(0, XCORR_MAX_LAG + 1).select(
        F.col("id").cast("long").alias("lag_h")
    )
    joined = (
        clicks.crossJoin(F.broadcast(lags))
        .withColumn(
            "target_bucket",
            F.col("bucket")
            + F.col("lag_h") * F.expr("INTERVAL 1 HOUR"),
        )
        .join(buys, F.col("target_bucket") == F.col("b_bucket"))
    )
    return joined.groupBy("lag_h").agg(
        F.count("*").cast("long").alias("n_pairs"),
        (F.round(F.corr("cv", "bv"), 4) + F.lit(0.0)).alias("xcorr"),
    )


#: CUSUM alarm threshold, in (sample) standard deviations.
CUSUM_H = 3.0


@register(
    "ts_cusum_changepoint",
    sql=f"""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS bucket,
                   round(avg(value), 6) AS v
            FROM events GROUP BY 1, 2
        ),
        stats AS (
            SELECT event_type,
                   round(avg(v), 6) AS mu,
                   round(stddev_samp(v), 6) AS sigma
            FROM hourly GROUP BY event_type
        ),
        walked AS (
            SELECT h.event_type, h.bucket, h.v, s.mu, s.sigma,
                   sum(h.v - s.mu) OVER (
                       PARTITION BY h.event_type ORDER BY h.bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cusum
            FROM hourly h JOIN stats s ON h.event_type = s.event_type
        )
        SELECT event_type, bucket, v,
               floor(cusum * 1000000 + 0.5) / 1000000 AS cusum,
               abs(cusum) > {CUSUM_H} * sigma AS alarm
        FROM walked
    """,
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on the hourly mean series: the
    running sum of deviations from the series mean, alarmed when it
    drifts past CUSUM_H sample deviations — the classic drift detector
    (Page's CUSUM, two-sided) that catches slow level shifts a
    threshold-per-point z-score (ts_anomaly_zscore) misses. The hourly
    pre-aggregate is the only data-sized shuffle; stats are a per-type
    aggregate broadcast back, and the walk is one per-type ordered
    running sum — O(1) state per key, shuffle-free on a type-bucketed
    store. Determinism: anchors and stats are pre-rounded, the running
    sum accumulates the SAME doubles in the SAME frame order in both
    engines, and the output rounding is the engine-identical
    floor(x*1e6+0.5) form."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.round(F.avg("value"), 6).alias("v"))
    stats = hourly.groupBy("event_type").agg(
        F.round(F.avg("v"), 6).alias("mu"),
        F.round(F.stddev_samp("v"), 6).alias("sigma"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    walked = hourly.join(F.broadcast(stats), "event_type").withColumn(
        "cusum", F.sum(F.col("v") - F.col("mu")).over(w)
    )
    return walked.select(
        "event_type",
        "bucket",
        "v",
        (F.floor(F.col("cusum") * 1_000_000 + 0.5) / 1_000_000).alias(
            "cusum"
        ),
        (F.abs("cusum") > CUSUM_H * F.col("sigma")).alias("alarm"),
    )


@register(
    "event_funnel_latency",
    sql="""
        WITH signups AS (
            SELECT user_id, min(ts) AS s_ts
            FROM events WHERE event_type = 'signup' GROUP BY user_id
        ),
        conv AS (
            SELECT s.user_id,
                   CAST(floor(epoch_us(min(e.ts)) / 60000000.0
                              - epoch_us(s.s_ts) / 60000000.0)
                        AS BIGINT) AS latency_min
            FROM signups s
            JOIN events e
              ON e.user_id = s.user_id
             AND e.event_type = 'purchase'
             AND e.ts >= s.s_ts
            GROUP BY s.user_id, s.s_ts
        )
        SELECT CAST(count(*) AS BIGINT) AS n_converted,
               round(quantile_cont(latency_min, 0.50), 4) AS p50_min,
               round(quantile_cont(latency_min, 0.90), 4) AS p90_min,
               round(avg(latency_min), 4) AS mean_min
        FROM conv
    """,
)
def event_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: minutes from a user's FIRST signup
    to their first subsequent purchase, summarized as median / p90 /
    mean — the companion to `event_funnel` (which counts who converts;
    this measures how fast). Latency is INTEGER minutes via epoch
    microsecond arithmetic (no float time math), the quantiles are the
    shared interpolated definition (see agg_quantiles), and the mean is
    an exact integer sum over a count. Shape: both sides key on
    user_id — one shuffle serves the signup aggregate, the conversion
    join, and the per-user first-purchase aggregate; the final summary
    is a scalar aggregate of a user-sized relation. Note the exact
    per-group quantile buffers converted users only (users, not
    events); at 100 TB the sketch twin agg_approx_quantile is the
    production path (same note as agg_quantiles)."""
    ev = table(spark, sf_dir, "events")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    conv = (
        signups.join(purchases, "user_id")
        .filter(F.col("p_ts") >= F.col("s_ts"))
        .groupBy("user_id", "s_ts")
        .agg(F.min("p_ts").alias("first_p"))
        .select(
            F.floor(
                epoch_us("first_p") / 60_000_000.0
                - epoch_us("s_ts") / 60_000_000.0
            )
            .cast("long")
            .alias("latency_min")
        )
    )
    return conv.agg(
        F.count("*").cast("long").alias("n_converted"),
        F.round(F.expr("percentile(latency_min, 0.50)"), 4).alias("p50_min"),
        F.round(F.expr("percentile(latency_min, 0.90)"), 4).alias("p90_min"),
        F.round(F.avg("latency_min"), 4).alias("mean_min"),
    )


#: Path-mining report size.
PATHS_TOP_K = 10


@register(
    "event_paths_top",
    sql=f"""
        WITH seq AS (
            SELECT event_type AS e1,
                   lead(event_type, 1) OVER w AS e2,
                   lead(event_type, 2) OVER w AS e3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        paths AS (
            SELECT e1 || '>' || e2 || '>' || e3 AS path,
                   CAST(count(*) AS BIGINT) AS n
            FROM seq WHERE e3 IS NOT NULL
            GROUP BY 1
        )
        SELECT path, n
        FROM paths
        ORDER BY n DESC, path
        LIMIT {PATHS_TOP_K}
    """,
)
def event_paths_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path mining: the most common 3-step event sequences across all
    users (the 'what do users actually do' flow report behind funnel
    design — event_funnel checks one hypothesized path; this SURFACES
    the paths worth hypothesizing). Two leads over ONE user-keyed
    window sort emit each user's trigrams in place — no self-joins, no
    explode of collected arrays — then a path-count aggregate and a
    TakeOrderedAndProject top-K with full tie-break. Path space is
    |types|^3, so the count relation is constant-sized at any corpus
    scale; counts are integers, nothing to round."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    paths = (
        seq.filter(F.col("e3").isNotNull())
        .select(
            F.concat_ws(">", "e1", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").cast("long").alias("n"))
    )
    return paths.orderBy(F.col("n").desc(), "path").limit(PATHS_TOP_K)


@register(
    "ts_seasonal_baseline",
    sql="""
        SELECT event_type,
               CAST(isodow(ts) AS INTEGER) AS dow,
               CAST(hour(ts) AS INTEGER) AS hod,
               CAST(count(*) AS BIGINT) AS n,
               round(avg(value), 6) AS seasonal_mean
        FROM events
        GROUP BY 1, 2, 3
    """,
)
def ts_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality profile: mean value per (type, day-of-week,
    hour-of-day) cell — the seasonal baseline an anomaly detector
    subtracts before thresholding (ts_anomaly_zscore and
    ts_cusum_changepoint judge against rolling/global means; real
    traffic needs the Monday-9am-vs-Sunday-3am correction first). One
    map-side-combinable aggregate over a constant |types|*7*24 cell
    space — the textbook partial-agg shuffle shape at any corpus
    size. Day-of-week is ISO (Mon=1): Spark's weekday()+1 == DuckDB's
    isodow — the one cross-engine calendar function pair that agrees
    on both the week start and the index base (dayofweek() does
    neither)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        (F.weekday("ts") + 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.avg("value"), 6).alias("seasonal_mean"),
    )


@register(
    "ts_fill_forward",
    sql="""
        WITH bounds AS (
            SELECT event_type,
                   date_trunc('hour', min(ts)) AS lo,
                   date_trunc('hour', max(ts)) AS hi
            FROM events GROUP BY event_type
        ),
        spine AS (
            SELECT event_type,
                   unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
            FROM bounds
        ),
        hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS bucket,
                   round(sum(value), 4) AS total
            FROM events GROUP BY 1, 2
        ),
        g AS (
            SELECT s.event_type, s.bucket, h.total,
                   h.bucket AS obs_bucket
            FROM spine s LEFT JOIN hourly h
              ON s.event_type = h.event_type AND s.bucket = h.bucket
        )
        SELECT event_type, bucket,
               coalesce(last_value(total IGNORE NULLS) OVER w, 0.0)
                   AS total_ffill,
               (obs_bucket IS NULL) AS gap,
               CAST(date_diff('hour',
                              last_value(obs_bucket IGNORE NULLS) OVER w,
                              bucket) AS BIGINT) AS stale_hours
        FROM g
        WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def ts_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (LOCF) over a dense hourly spine — the third
    classic gap treatment next to ts_resample_gapfill (explicit
    zeros) and ts_interpolate_linear (midpoint estimates): silent
    hours CARRY the last observed hourly total, flagged `gap`, with
    `stale_hours` reporting how old the carried value is (the
    freshness metric a feature-store / monitoring consumer alerts
    on). ONE fact-sized scan and shuffle (the map-side-combined
    hourly pre-aggregate) and NO join (r15): the oracle SQL's dense
    spine + left join + carry window is re-expressed generatively —
    each observed hour EMITS itself plus every silent hour up to the
    next observation (explode over a per-row sequence), carrying its
    own fill value. The spine's lo bound is the first observed hour
    per type, so the union of per-observation ranges [obs, next_obs)
    plus the final observation point IS the dense [lo, hi] spine, and
    last_value(... IGNORE NULLS) at a generated hour is exactly the
    generating observation's carry — same rows, no spine relation, no
    spine-to-hourly join, no second events scan (the r14 watch-list
    reading traced to the old shape's duplicate raw-events aggregate
    for the bounds). The carry itself still uses the IGNORE NULLS
    window ON THE HOURLY relation (an all-null hour carries the prior
    hour's total, as in the SQL), which shares the sort of the lead()
    that finds each observation's successor — one bucket-sized
    shuffle for both. Carried totals were rounded ONCE in the hourly
    relation, so no re-rounding drift."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.round(F.sum("value"), 4).alias("total"))
    wo = Window.partitionBy("event_type").orderBy("bucket")
    wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h = hourly.select(
        "event_type",
        F.col("bucket").alias("obs_bucket"),
        F.coalesce(
            F.last("total", ignorenulls=True).over(wc), F.lit(0.0)
        ).alias("total_ffill"),
        F.lead("bucket").over(wo).alias("next_b"),
    )
    return h.select(
        "event_type",
        F.explode(
            F.sequence(
                "obs_bucket",
                F.coalesce(
                    F.col("next_b") - F.expr("INTERVAL 1 HOUR"),
                    F.col("obs_bucket"),
                ),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bucket"),
        "total_ffill",
        "obs_bucket",
    ).select(
        "event_type",
        "bucket",
        "total_ffill",
        (F.col("bucket") != F.col("obs_bucket")).alias("gap"),
        F.expr("timestampdiff(HOUR, obs_bucket, bucket)")
        .cast("long")
        .alias("stale_hours"),
    )


#: Holt's linear-trend smoothing, depth-bounded like ts_ewma. ALPHA
#: (level gain) and GAMMA (trend gain) are exact binary fractions so
#: every step of the unrolled chain is a clean IEEE double op on both
#: engines; depth 8 leaves < 1% of the level mass in the truncated
#: tail at alpha 0.5.
HOLT_DEPTH = 8
HOLT_ALPHA = 0.5
HOLT_GAMMA = 0.25


def _holt_sql_steps() -> str:
    """The unrolled Holt chain as lateral-alias SQL — the TEXTUAL twin
    of the Column chain built in ts_holt_linear, same association
    order, so every intermediate double is bit-identical."""
    a, g = HOLT_ALPHA, HOLT_GAMMA
    k = HOLT_DEPTH - 1
    steps = [f"x{k} AS l{k}", f"0.0 AS b{k}"]
    for i in range(k - 1, -1, -1):
        p = i + 1
        steps.append(f"{a} * x{i} + {1 - a} * (l{p} + b{p}) AS l{i}")
        steps.append(f"{g} * (l{i} - l{p}) + {1 - g} * b{p} AS b{i}")
    return ",\n                   ".join(steps)


@register(
    "ts_holt_linear",
    sql=f"""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS bucket,
                   round(avg(value), 6) AS obs
            FROM events GROUP BY 1, 2
        ),
        lagged AS (
            SELECT event_type, bucket, obs,
                   {", ".join(f"lag(obs, {i}) OVER w AS x{i}" for i in range(1, HOLT_DEPTH))},
                   obs AS x0
            FROM hourly
            WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
        ),
        chain AS (
            SELECT event_type, bucket, obs,
                   {_holt_sql_steps()}
            FROM lagged WHERE x{HOLT_DEPTH - 1} IS NOT NULL
        )
        SELECT event_type, bucket, obs,
               floor(l0 * 1000000 + 0.5) / 1000000 AS level,
               floor(b0 * 1000000 + 0.5) / 1000000 AS trend,
               floor((l0 + b0) * 1000000 + 0.5) / 1000000 AS forecast
        FROM chain
    """,
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend (double exponential) smoothing over the
    hourly mean series — the forecasting upgrade of `ts_ewma` for
    series with drift: a plain EWMA lags a trending series by
    (1-a)/a steps forever, while Holt carries an explicit trend state
    b_t that closes that gap, which is why capacity dashboards
    forecast with Holt and not EWMA. Per step:
    l_t = a*x_t + (1-a)*(l_{{t-1}} + b_{{t-1}}),
    b_t = g*(l_t - l_{{t-1}}) + (1-g)*b_{{t-1}}; one-step-ahead
    forecast = l_t + b_t.

    Same scale discipline as `ts_ewma`: the textbook recurrence is an
    unbounded serial scan per key, which no parallel engine runs —
    instead the state is RESTARTED K=8 steps back (l := x_{{t-K+1}},
    b := 0) and the K-step chain is unrolled over window lags, making
    the whole thing a single per-key sort + a fixed-size expression:
    embarrassingly parallel across keys, zero extra shuffles, and at
    100 TB it runs on a bucketed store with no shuffle at all. The
    alpha-weights of the truncated tail decay geometrically, so the
    restart bias is bounded and the depth is the accuracy knob.
    Cross-engine determinism by construction: pre-rounded anchors,
    binary-fraction gains, and ONE code path (`_holt_sql_steps`)
    emitting the identical association order both engines evaluate —
    every intermediate double is bit-identical, no ln/exp involved.
    Rows without full depth are excluded (the restart needs K
    anchors); first forecastable row per key is row K."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.round(F.avg("value"), 6).alias("obs"))
    w = Window.partitionBy("event_type").orderBy("bucket")
    k = HOLT_DEPTH - 1
    lagged = hourly.select(
        "event_type",
        "bucket",
        "obs",
        *[F.lag("obs", i).over(w).alias(f"x{i}") for i in range(1, HOLT_DEPTH)],
        F.col("obs").alias("x0"),
    ).filter(F.col(f"x{k}").isNotNull())
    a, g = HOLT_ALPHA, HOLT_GAMMA
    # Stepwise evaluation (r15): composing the recurrence as one Column
    # tree re-inlines l_{t-1} and b_{t-1} into every consumer, so the
    # expression grows ~3x per unrolled step (~12k nodes at depth 8 —
    # seconds of Catalyst analysis + Janino compile, and every row
    # re-evaluated shared subtrees). Emitting each l_i/b_i as a NAMED
    # column in its own Project keeps every intermediate evaluated
    # exactly once (CollapseProject will not inline a non-trivial alias
    # that is referenced more than once), which is also precisely the
    # lateral-alias shape the oracle SQL (_holt_sql_steps) runs — the
    # association order per step is unchanged, so every intermediate
    # double remains bit-identical.
    cur = lagged.select(
        "event_type",
        "bucket",
        "obs",
        *[F.col(f"x{i}") for i in range(k)],
        F.col(f"x{k}").alias(f"l{k}"),
        F.lit(0.0).alias(f"b{k}"),
    )
    for i in range(k - 1, -1, -1):
        keep = ["event_type", "bucket", "obs"] + [f"x{m}" for m in range(i)]
        cur = cur.select(
            *keep,
            F.col(f"l{i + 1}"),
            F.col(f"b{i + 1}"),
            (
                F.lit(a) * F.col(f"x{i}")
                + F.lit(1 - a) * (F.col(f"l{i + 1}") + F.col(f"b{i + 1}"))
            ).alias(f"l{i}"),
        )
        cur = cur.select(
            *keep,
            F.col(f"l{i}"),
            (
                F.lit(g) * (F.col(f"l{i}") - F.col(f"l{i + 1}"))
                + F.lit(1 - g) * F.col(f"b{i + 1}")
            ).alias(f"b{i}"),
        )
    rnd = lambda c: F.floor(c * 1_000_000 + F.lit(0.5)) / 1_000_000  # noqa: E731
    return cur.select(
        "event_type",
        "bucket",
        "obs",
        rnd(F.col("l0")).alias("level"),
        rnd(F.col("b0")).alias("trend"),
        rnd(F.col("l0") + F.col("b0")).alias("forecast"),
    )


@register(
    "ts_autocorr",
    sql="""
        WITH daily AS (
            SELECT CAST(date_diff('day', TIMESTAMP '1995-01-01',
                                  date_trunc('day', o_orderdate)) AS BIGINT)
                       AS day_idx,
                   CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS rev
            FROM orders GROUP BY 1
        ),
        lags AS (SELECT unnest(range(1, 8)) AS k),
        pairs AS (
            SELECT l.k,
                   CAST(a.rev AS DECIMAL(18,0)) AS x,
                   CAST(b.rev AS DECIMAL(18,0)) AS y
            FROM lags l
            JOIN daily a ON true
            JOIN daily b ON b.day_idx = a.day_idx + l.k
        ),
        m AS (
            SELECT CAST(k AS INT) AS lag_k,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   sum(x) AS sx, sum(y) AS sy,
                   sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
            FROM pairs GROUP BY k
        )
        SELECT lag_k, n_pairs, round(acf_raw, 12) AS acf FROM (
        SELECT lag_k, n_pairs,
               (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (sqrt(CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * sqrt(CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                   AS acf_raw
        FROM m )
    """,
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily-revenue series at lags
    1..7 — the seasonality detector run before choosing a forecast
    model (a weekly cycle shows as a lag-7 peak). Pearson r per lag
    from EXPLICIT integer moment sums, the stat_regr_trend recipe:
    daily revenue is exact integer cents (floor(x*100+0.5), the same
    cross-engine-safe cast as stat_ks_test), each moment is summed as
    DECIMAL(18,0)xDECIMAL(18,0) products — exact at any corpus scale
    where BIGINT products would overflow (daily cents^2 ~ 1e18 at
    sf0.1 already) — and r is assembled in double arithmetic from the
    exact sums with the IDENTICAL expression on both engines. The one
    remaining cross-engine seam is the DECIMAL -> DOUBLE cast of the
    product moments (~1e20, beyond 2^53, so the cast must round and
    the engines differ by 1 ulp — observed by the round-8 full-repr
    sweep, invisible at %.6g); acf is therefore emitted at round(.,
    12), which is ~1e5 x coarser than the ulp wobble and far finer
    than any analytical use of an ACF.

    Scale shape: the fact table collapses to one row per day in a
    single map-side-combined aggregate; the 7-lag pair relation is an
    equi-join on day_idx + k over that day-sized relation (the range
    join is expanded to 7 equi keys, never a theta scan); the final
    aggregate has 7 groups. Everything downstream of the first
    aggregate is calendar-sized, not fact-sized."""
    o = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    daily = (
        o.select(
            F.datediff(
                F.date_trunc("day", "o_orderdate"),
                F.lit("1995-01-01").cast("timestamp"),
            )
            .cast("long")
            .alias("day_idx"),
            cents.alias("cents"),
        )
        .groupBy("day_idx")
        .agg(F.sum("cents").cast("long").alias("rev"))
    )
    lags = spark.range(1, 8).select(F.col("id").alias("k"))
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = (
        lags.crossJoin(a)
        .join(b, F.col("b.day_idx") == F.col("a.day_idx") + F.col("k"))
        .select(
            "k",
            F.col("a.rev").cast("decimal(18,0)").alias("x"),
            F.col("b.rev").cast("decimal(18,0)").alias("y"),
        )
    )
    m = pairs.groupBy("k").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n_pairs").cast("double")
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    num = nd * dbl("sxy") - dbl("sx") * dbl("sy")
    den = F.sqrt(nd * dbl("sxx") - dbl("sx") * dbl("sx")) * F.sqrt(
        nd * dbl("syy") - dbl("sy") * dbl("sy")
    )
    return m.select(
        F.col("k").cast("int").alias("lag_k"),
        "n_pairs",
        F.round(num / den, 12).alias("acf"),
    )


@register(
    "event_peak_concurrency",
    sql="""
        WITH sessions AS (
            SELECT user_id,
                   epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
                   epoch_us(min(ts)) // 86400000000 AS day_idx
            FROM events
            GROUP BY user_id, epoch_us(ts) // 86400000000
        ),
        bounds AS (
            SELECT day_idx, start_us AS t_us, 1 AS delta FROM sessions
            UNION ALL
            SELECT day_idx, end_us AS t_us, -1 AS delta FROM sessions
        ),
        swept AS (
            SELECT day_idx,
                   CAST(sum(delta) OVER (PARTITION BY day_idx
                                         ORDER BY t_us, delta DESC)
                        AS BIGINT) AS conc
            FROM bounds
        )
        SELECT s.day_idx AS day_idx,
               CAST(n.n_sessions AS BIGINT) AS n_sessions,
               CAST(max(s.conc) AS BIGINT) AS peak_concurrency
        FROM swept s
        JOIN (SELECT day_idx, count(*) AS n_sessions FROM sessions
              GROUP BY day_idx) n
            ON s.day_idx = n.day_idx
        GROUP BY s.day_idx, n.n_sessions
    """,
)
def event_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the capacity-planning
    readout (license seats, connection pools, live viewers): sessions
    are each user's [first event, last event] span within a calendar
    day (so spans never cross the partition boundary BY CONSTRUCTION),
    swept as +1/-1 boundary events with a cumulative sum; the day's
    maximum prefix value is its peak concurrency.

    Determinism at ties: the sweep orders by (time, delta DESC) so
    all starts at an instant precede all ends (inclusive-overlap
    semantics), and the cumulative sum uses the ANSI DEFAULT frame
    (RANGE UNBOUNDED PRECEDING .. CURRENT ROW): every peer row at an
    equal (time, delta) gets the identical group-end sum, so the
    per-day max cannot depend on engine-internal tie order — the
    reason this uses RANGE where the repo's other running sums pin
    ROWS + a unique key. Time compares in integer micros, no float
    time arithmetic.

    Scale shape: one user-day aggregate (map-side combined), a
    boundary union (zero-shuffle concat), and a day-partitioned
    window — thousands of independent partitions, each bounded by
    that day's sessions; never a global single-task sort."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", epoch_us("ts").alias("t_us")
    )
    # integer day index via true integer division (DIV) — float division
    # could round up across a midnight boundary in the last ulp
    sessions = (
        ev.withColumn("day_idx", F.expr("t_us DIV 86400000000"))
        .groupBy("user_id", "day_idx")
        .agg(
            F.min("t_us").alias("start_us"),
            F.max("t_us").alias("end_us"),
        )
    )
    bounds = sessions.select(
        "day_idx", F.col("start_us").alias("t_us"), F.lit(1).alias("delta")
    ).unionAll(
        sessions.select(
            "day_idx", F.col("end_us").alias("t_us"), F.lit(-1).alias("delta")
        )
    )
    w = Window.partitionBy("day_idx").orderBy(
        F.col("t_us").asc(), F.col("delta").desc()
    )
    swept = bounds.select(
        "day_idx", F.sum("delta").over(w).cast("long").alias("conc")
    )
    n = sessions.groupBy("day_idx").agg(F.count("*").alias("n_sessions"))
    return (
        swept.join(n, "day_idx")
        .groupBy("day_idx", "n_sessions")
        .agg(F.max("conc").cast("long").alias("peak_concurrency"))
        .select(
            "day_idx",
            F.col("n_sessions").cast("long").alias("n_sessions"),
            "peak_concurrency",
        )
    )


LTTB_BUCKETS = 60


@register(
    "ts_downsample_lttb",
    sql=f"""
        WITH daily AS (
            SELECT CAST(date_diff('day', TIMESTAMP '1995-01-01',
                                  date_trunc('day', o_orderdate)) AS BIGINT)
                       AS day_idx,
                   CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS rev
            FROM orders GROUP BY 1
        ),
        numbered AS (
            SELECT day_idx, rev,
                   row_number() OVER (ORDER BY day_idx) AS rn,
                   count(*) OVER () AS n
            FROM daily
        ),
        pts AS (
            SELECT day_idx, rev, rn, n,
                   CAST((rn - 1) * {LTTB_BUCKETS} // n AS BIGINT) AS bucket
            FROM numbered
        ),
        bstats AS (
            SELECT bucket,
                   CAST(sum(day_idx) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                       AS mx,
                   CAST(sum(rev) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS my
            FROM pts GROUP BY bucket
        ),
        interior AS (
            SELECT p.day_idx, p.rev, p.bucket,
                   abs((l.mx - r.mx) * (CAST(p.rev AS DOUBLE) - l.my)
                       - (l.mx - CAST(p.day_idx AS DOUBLE))
                         * (r.my - l.my)) AS area
            FROM pts p
            JOIN bstats l ON l.bucket = p.bucket - 1
            JOIN bstats r ON r.bucket = p.bucket + 1
        ),
        chosen AS (
            SELECT day_idx, rev, bucket FROM (
                SELECT day_idx, rev, bucket,
                       row_number() OVER (PARTITION BY bucket
                                          ORDER BY area DESC, day_idx)
                           AS pick
                FROM interior
            ) WHERE pick = 1
        ),
        edges AS (
            SELECT day_idx, rev, bucket FROM pts
            WHERE rn = 1 OR rn = n
        )
        SELECT day_idx, rev, CAST(bucket AS BIGINT) AS bucket
        FROM (SELECT * FROM chosen UNION ALL SELECT * FROM edges)
    """,
    # r15: the day-sized bucketed-points relation is localCheckpointed
    # at plan time (see fn body), so fn() performs a plan-time job.
    eager=True,
)
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling of the daily-revenue
    series to LTTB_BUCKETS points — the dashboard/preview decimation
    that preserves visual extremes where naive bucket-averaging
    flattens them. This is the PARALLEL "LTTB-mean" variant: true LTTB
    anchors each triangle on the previously SELECTED point (a serial
    chain); anchoring on the neighbor buckets' mean points instead
    (Steinarsson's own precomputed-bucket simplification) makes every
    bucket's argmax independent, so the whole pass is two windows +
    two small joins — documented as the variant, not sold as the
    chain. First/last points are kept verbatim (standard LTTB).

    Determinism: bucket assignment is integer arithmetic on
    row_number over unique day_idx; anchor means are exact-int sums
    over counts (single IEEE division); triangle areas are one fixed
    double expression; argmax ties break on day_idx. Exact oracle,
    emitted unrounded. Scale: day-sized relation throughout; the
    per-bucket argmax is a WindowGroupLimit-shaped bounded window."""
    o = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    daily = (
        o.select(
            F.datediff(
                F.date_trunc("day", "o_orderdate"),
                F.lit("1995-01-01").cast("timestamp"),
            )
            .cast("long")
            .alias("day_idx"),
            cents.alias("cents"),
        )
        .groupBy("day_idx")
        .agg(F.sum("cents").cast("long").alias("rev"))
    )
    w_rn = Window.orderBy("day_idx")
    numbered = daily.select(
        "day_idx",
        "rev",
        F.row_number().over(w_rn).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    # r15 (guide §1.2(1)): pts feeds the bucket-stats aggregate (read
    # twice more as the left/right anchor relations) and the final
    # argmax join — before, every branch re-ran the order scan + daily
    # aggregate + the global numbering window (4 scans in the plan).
    # The relation is day-sized at any corpus scale, so one eager
    # checkpoint leaves a single upstream pass.
    pts = numbered.withColumn(
        "bucket", F.expr(f"CAST((rn - 1) * {LTTB_BUCKETS} DIV n AS BIGINT)")
    ).localCheckpoint(eager=True)
    bstats = pts.groupBy("bucket").agg(
        (F.sum("day_idx").cast("double") / F.count("*").cast("double")).alias(
            "mx"
        ),
        (F.sum("rev").cast("double") / F.count("*").cast("double")).alias("my"),
    )
    lft = bstats.select(
        (F.col("bucket") + 1).alias("bucket"),
        F.col("mx").alias("lmx"),
        F.col("my").alias("lmy"),
    )
    rgt = bstats.select(
        (F.col("bucket") - 1).alias("bucket"),
        F.col("mx").alias("rmx"),
        F.col("my").alias("rmy"),
    )
    area = F.abs(
        (F.col("lmx") - F.col("rmx"))
        * (F.col("rev").cast("double") - F.col("lmy"))
        - (F.col("lmx") - F.col("day_idx").cast("double"))
        * (F.col("rmy") - F.col("lmy"))
    )
    interior = (
        pts.join(F.broadcast(lft), "bucket")
        .join(F.broadcast(rgt), "bucket")
        .select("day_idx", "rev", "bucket", area.alias("area"))
    )
    w_pick = Window.partitionBy("bucket").orderBy(
        F.desc("area"), F.col("day_idx")
    )
    chosen = (
        interior.withColumn("pick", F.row_number().over(w_pick))
        .filter(F.col("pick") == 1)
        .select("day_idx", "rev", "bucket")
    )
    edges = pts.filter(
        (F.col("rn") == 1) | (F.col("rn") == F.col("n"))
    ).select("day_idx", "rev", "bucket")
    return chosen.unionAll(edges).select(
        "day_idx", "rev", F.col("bucket").cast("long").alias("bucket")
    )


@register(
    "event_audience_overlap",
    sql="""
        WITH ut AS (
            SELECT DISTINCT user_id, event_type FROM events
        ),
        sizes AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
            FROM ut GROUP BY 1
        ),
        inter AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(count(*) AS BIGINT) AS n_both
            FROM ut a JOIN ut b
                ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT i.type_a, i.type_b, i.n_both,
               sa.n_users AS n_a, sb.n_users AS n_b,
               CAST(i.n_both AS DOUBLE)
               / CAST(sa.n_users + sb.n_users - i.n_both AS DOUBLE)
                   AS jaccard
        FROM inter i
        JOIN sizes sa ON i.type_a = sa.event_type
        JOIN sizes sb ON i.type_b = sb.event_type
    """,
)
def event_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: Jaccard similarity between the user
    sets of every event-type pair — the cross-sell / cannibalization
    readout ("do clickers also purchase?"), and the batch twin of the
    segment-overlap reports every CDP ships. The pair join is on
    user_id over the DISTINCT (user, type) relation with an ordered
    type inequality: per user the fanout is (their distinct types
    choose 2) <= C(T,2) where T is the ENUMERABLE event-type count —
    linear in users with a constant, never users x users (the same
    argument that bounds the dedup band joins). Jaccard =
    |A∩B| / (|A|+|B|-|A∩B|) is one integer-quotient double, emitted
    UNROUNDED. Shuffles: one distinct, one equi-join on user, one
    pair-key aggregate, two broadcast-sized size joins."""
    ev = table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    sizes = ut.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_users")
    )
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b")
    )
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            (
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


@register(
    "event_user_lifecycle",
    sql="""
        WITH uw AS (
            SELECT DISTINCT user_id,
                   CAST(date_diff('day', DATE '2024-01-01',
                                  CAST(date_trunc('week', ts) AS DATE)) // 7
                        AS BIGINT) AS wk
            FROM events
        ),
        flagged AS (
            SELECT user_id, wk,
                   min(wk) OVER (PARTITION BY user_id) AS first_wk,
                   lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
                   lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
            FROM uw
        )
        SELECT wk,
               CAST(count(*) AS BIGINT) AS n_active,
               CAST(sum(CASE WHEN wk = first_wk THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new,
               CAST(sum(CASE WHEN prev_wk = wk - 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_retained,
               CAST(sum(CASE WHEN wk > first_wk
                              AND (prev_wk IS NULL OR prev_wk < wk - 1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
               CAST(sum(CASE WHEN next_wk IS NULL OR next_wk > wk + 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_churning
        FROM flagged
        GROUP BY wk
    """,
)
def event_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly user-lifecycle accounting — the growth dashboard's core
    decomposition: every active user in week W is exactly one of NEW
    (first week ever), RETAINED (also active in W-1), or RESURRECTED
    (seen before, but not in W-1); n_churning counts this week's
    actives who do NOT return in W+1. new + retained + resurrected =
    active by construction — the invariant the pinned test asserts.

    Scale shape: the fact table collapses to DISTINCT (user, week)
    first (bounded by users x calendar weeks, far below event grain);
    the three window functions share ONE user-partitioned sort, and
    the final aggregate groups by week. Weeks index from the fixed
    epoch 2024-01-01 via date_trunc('week', …) — ISO Monday weeks on
    both engines — divided by 7 into an integer; everything downstream
    is integer counts."""
    e = table(spark, sf_dir, "events")
    uw = e.select(
        "user_id",
        (
            F.datediff(
                F.date_trunc("week", "ts").cast("date"),
                F.lit("2024-01-01").cast("date"),
            )
            / 7
        )
        .cast("long")
        .alias("wk"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("wk")
    wall = Window.partitionBy("user_id")
    flagged = uw.select(
        "user_id",
        "wk",
        F.min("wk").over(wall).alias("first_wk"),
        F.lag("wk").over(w).alias("prev_wk"),
        F.lead("wk").over(w).alias("next_wk"),
    )
    return flagged.groupBy("wk").agg(
        F.count("*").cast("long").alias("n_active"),
        F.sum((F.col("wk") == F.col("first_wk")).cast("int"))
        .cast("long")
        .alias("n_new"),
        F.sum(
            F.when(F.col("prev_wk") == F.col("wk") - 1, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_retained"),
        F.sum(
            F.when(
                (F.col("wk") > F.col("first_wk"))
                & (
                    F.col("prev_wk").isNull()
                    | (F.col("prev_wk") < F.col("wk") - 1)
                ),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_resurrected"),
        F.sum(
            F.when(
                F.col("next_wk").isNull()
                | (F.col("next_wk") > F.col("wk") + 1),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_churning"),
    )


#: Conversion-latency histogram bucket width: 10 minutes in micros.
LAT_BUCKET_US = 600 * 1_000_000


@register(
    "event_conversion_latency_histogram",
    sql=f"""
        WITH nearest AS (
            SELECT p.event_id AS purchase_id,
                   max(epoch_us(c.ts)) AS best_click_us,
                   epoch_us(p.ts) AS p_us
            FROM events p
            JOIN events c
              ON c.event_type = 'click'
             AND c.user_id = p.user_id
             AND c.ts >= p.ts - INTERVAL 1 HOUR
             AND c.ts < p.ts
            WHERE p.event_type = 'purchase'
            GROUP BY p.event_id, epoch_us(p.ts)
        )
        SELECT CAST((p_us - best_click_us) // {LAT_BUCKET_US} AS BIGINT)
                   AS bucket_10min,
               CAST(count(*) AS BIGINT) AS n_conversions,
               CAST(min(p_us - best_click_us) AS BIGINT) AS min_lat_us,
               CAST(max(p_us - best_click_us) AS BIGINT) AS max_lat_us
        FROM nearest
        GROUP BY 1
    """,
)
def event_conversion_latency_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Click-to-purchase latency distribution: for every attributed
    purchase (>=1 click in the preceding hour by the same user), the
    latency to the NEAREST preceding click, histogrammed in 10-minute
    buckets — the distribution view that complements
    event_funnel_latency's scalar summary (an attribution window is
    tuned by looking at where the latency mass actually sits).

    Exactness: latencies are integer MICROSECONDS (epoch_us on both
    engines — second-granularity datediff truncates floors
    differently around sub-second offsets, so the micros form is the
    cross-engine-safe one); bucketing is integer floor-division.
    Scale shape: the purchase-click candidate join is the same
    time-range equi-join on user_id the stream joins run (state
    bounded by the 1 h window), the nearest-click reduction is a
    map-side-combinable max, and the histogram is a second tiny
    aggregate on bucket ids."""
    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.unix_micros(F.to_utc_timestamp("ts", "UTC")).alias("p_us"),
        F.col("ts").alias("p_ts"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.unix_micros(F.to_utc_timestamp("ts", "UTC")).alias("c_us"),
        F.col("ts").alias("c_ts"),
    )
    nearest = (
        p.join(
            c,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("c_ts") < F.col("p_ts")),
        )
        .groupBy("purchase_id", "p_us")
        .agg(F.max("c_us").alias("best_click_us"))
    )
    lat = F.col("p_us") - F.col("best_click_us")
    return (
        nearest.select(
            F.expr(f"CAST((p_us - best_click_us) DIV {LAT_BUCKET_US} AS BIGINT)")
            .alias("bucket_10min"),
            lat.alias("lat_us"),
        )
        .groupBy("bucket_10min")
        .agg(
            F.count("*").cast("long").alias("n_conversions"),
            F.min("lat_us").cast("long").alias("min_lat_us"),
            F.max("lat_us").cast("long").alias("max_lat_us"),
        )
    )


#: Robust anomaly threshold: |x - median| > 3 * 1.4826 * MAD (the
#: normal-consistent MAD scale factor).
MAD_K = 1.4826
MAD_SIGMA = 3.0


@register(
    "ts_anomaly_mad",
    sql=f"""
        WITH daily AS (
            SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS rev_cents
            FROM orders GROUP BY 1
        ),
        med AS (
            SELECT quantile_cont(CAST(rev_cents AS DOUBLE), 0.5) AS m
            FROM daily
        ),
        dev AS (
            SELECT quantile_cont(abs(CAST(d.rev_cents AS DOUBLE) - med.m),
                                 0.5) AS mad
            FROM daily d, med
        )
        SELECT d.day, d.rev_cents,
               round((CAST(d.rev_cents AS DOUBLE) - med.m)
                     / ({MAD_K} * dev.mad), 6) AS robust_z,
               abs(CAST(d.rev_cents AS DOUBLE) - med.m)
                   > {MAD_SIGMA} * {MAD_K} * dev.mad AS is_anomaly
        FROM daily d, med, dev
    """,
)
def ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust anomaly detection over the daily-revenue
    series — the outlier-proof alternative to ts_anomaly_zscore's
    mean/stddev: one extreme day inflates a standard deviation enough
    to mask its neighbors (masking), while the median and the median-
    absolute-deviation have a 50% breakdown point, so the robust z
    stays calibrated no matter how wild the anomalies are.

    Exactness: daily revenue is exact integer cents; both medians are
    exact interpolated percentiles over the CALENDAR-SIZED daily
    relation (percentile/quantile_cont interpolate identically from
    identical exact inputs), and the robust z renders through one
    fixed double expression. Scale shape: the fact table collapses in
    one map-side-combined aggregate; the two percentile passes and the
    flag projection run over days, not orders — same regime as
    ts_anomaly_zscore, two extra tiny passes for robustness."""
    o = table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.date_trunc("day", "o_orderdate").cast("date").alias("day"),
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").cast("long").alias("rev_cents"))
    )
    med = daily.agg(
        F.expr("percentile(CAST(rev_cents AS DOUBLE), 0.5)").alias("m")
    )
    dev = daily.crossJoin(F.broadcast(med)).agg(
        F.expr("percentile(abs(CAST(rev_cents AS DOUBLE) - m), 0.5)").alias(
            "mad"
        ),
        F.first("m").alias("m"),
    )
    z = (F.col("rev_cents").cast("double") - F.col("m")) / (
        MAD_K * F.col("mad")
    )
    return daily.crossJoin(F.broadcast(dev)).select(
        "day",
        "rev_cents",
        F.round(z, 6).alias("robust_z"),
        (
            F.abs(F.col("rev_cents").cast("double") - F.col("m"))
            > MAD_SIGMA * MAD_K * F.col("mad")
        ).alias("is_anomaly"),
    )


@register(
    "ts_inter_arrival",
    sql="""
        WITH gaps AS (
            SELECT event_type,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY event_type
                       ORDER BY ts, event_id) AS gap_us
            FROM events
        ),
        ranked AS (
            SELECT event_type, gap_us,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY gap_us) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM gaps WHERE gap_us IS NOT NULL
        )
        SELECT event_type,
               CAST(max(n) AS BIGINT) AS n_gaps,
               CAST(max(CASE WHEN rn = (n + 1) // 2 THEN gap_us END)
                    AS BIGINT) AS p50_gap_us,
               CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN gap_us END)
                    AS BIGINT) AS p90_gap_us,
               CAST(max(gap_us) AS BIGINT) AS max_gap_us
        FROM ranked
        GROUP BY event_type
    """,
)
def ts_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time profile per event type: median/p90/max gaps
    between consecutive events — the measurement behind streaming
    capacity choices in this repo (watermark delays, session gap
    thresholds, rate limits are all picked against exactly this
    distribution; ts_sessionize's 30-minute gap is only defensible if
    p90 inter-arrival sits well under it).

    Exactness: gaps are integer MICROSECONDS (epoch_us; the
    event_conversion_latency_histogram lesson), percentiles are
    PERCENTILE_DISC-style element selection (agg_percentile_disc) —
    no interpolation, no float sums anywhere. Scale shape: the lag
    window and the rank window both partition by event_type; the
    final aggregate reuses the same key. Unique (ts, event_id) order
    makes both windows total."""
    e = table(spark, sf_dir, "events")
    us = F.unix_micros(F.to_utc_timestamp("ts", "UTC"))
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    wr = Window.partitionBy("event_type").orderBy("gap_us")
    wn = Window.partitionBy("event_type")
    ranked = gaps.select(
        "event_type",
        "gap_us",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    pick = lambda idx: F.max(F.when(F.col("rn") == idx, F.col("gap_us")))  # noqa: E731
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_gaps"),
        pick(F.expr("(n + 1) DIV 2")).cast("long").alias("p50_gap_us"),
        pick(F.expr("(9 * n + 9) DIV 10")).cast("long").alias("p90_gap_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
    )


#: Bollinger window (trading days) and band width (sigmas).
BOLL_WINDOW = 20
BOLL_SIGMA = 2


@register(
    "ts_bollinger",
    sql=f"""
        WITH daily AS (
            SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY 1
        ),
        m AS (
            SELECT day, cents,
                   CAST(count(*) OVER w AS BIGINT) AS n,
                   CAST(sum(cents) OVER w AS BIGINT) AS s1,
                   sum(CAST(cents AS DECIMAL(18,0)) * cents) OVER w AS s2
            FROM daily
            WINDOW w AS (ORDER BY day
                         ROWS BETWEEN {BOLL_WINDOW - 1} PRECEDING
                                  AND CURRENT ROW)
        ),
        b AS (
            SELECT day, cents, n,
                   CAST(s1 AS DOUBLE) / n AS mu,
                   sqrt(CAST(s2 AS DOUBLE) / n
                        - (CAST(s1 AS DOUBLE) / n)
                          * (CAST(s1 AS DOUBLE) / n)) AS sig
            FROM m WHERE n = {BOLL_WINDOW}
        )
        SELECT day, cents,
               mu / 100 AS sma,
               (mu + {BOLL_SIGMA} * sig) / 100 AS upper_band,
               (mu - {BOLL_SIGMA} * sig) / 100 AS lower_band
        FROM b
    """,
)
def ts_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over the daily-revenue series: 20-day rolling
    mean ± 2 rolling population sigmas — the mean-reversion envelope
    (complements ts_ewma's trend line and ts_anomaly_zscore's
    point flags with a CONTINUOUS normal-range band). Rows emit only
    once the window is full (n = 20), the standard warm-up rule.

    Exactness: rolling moments are exact integer/decimal sums over
    exact cents (the stat_skew_kurtosis recipe applied to a ROWS
    frame — frame sums are order-deterministic because the frame IS
    an ordered set), bands render in one fixed expression. Scale
    shape: the fact table collapses to days first; the single
    unpartitioned window runs over the calendar-sized relation (the
    ts_downsample_lttb note applies: acceptable because bounded; a
    multi-series corpus would partition by series key)."""
    o = table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.date_trunc("day", "o_orderdate").cast("date").alias("day"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    w = Window.orderBy("day").rowsBetween(-(BOLL_WINDOW - 1), 0)
    m = daily.select(
        "day",
        "cents",
        F.count("*").over(w).cast("long").alias("n"),
        F.sum("cents").over(w).cast("long").alias("s1"),
        F.sum(F.col("cents").cast("decimal(18,0)") * F.col("cents"))
        .over(w)
        .alias("s2"),
    )
    n = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / n
    # mean*mean, never pow(mean, 2): Java Math.pow is not correctly
    # rounded, so pow diverges from DuckDB's by 1 ulp (observed);
    # multiplication is IEEE-exact in both
    sig = F.sqrt(F.col("s2").cast("double") / n - mean * mean)
    # emitted UNROUNDED: the moments are exact integers, so both
    # engines assemble bit-identical doubles — while round(x, 2) sits
    # on a .005 tie for band values (observed: 1331471.535 rounding
    # .54 vs .53 across engines) and would BREAK the hash the raw
    # doubles pass
    return m.filter(F.col("n") == BOLL_WINDOW).select(
        "day",
        "cents",
        (mean / 100).alias("sma"),
        ((mean + BOLL_SIGMA * sig) / 100).alias("upper_band"),
        ((mean - BOLL_SIGMA * sig) / 100).alias("lower_band"),
    )


#: Rolling-regression window (days).
SLOPE_WINDOW = 14


@register(
    "ts_rolling_slope",
    sql=f"""
        WITH daily AS (
            SELECT CAST(date_diff('day', DATE '1995-01-01',
                                  CAST(date_trunc('day', o_orderdate)
                                       AS DATE)) AS BIGINT) AS x,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS y
            FROM orders GROUP BY 1
        ),
        m AS (
            SELECT x, y,
                   CAST(count(*) OVER w AS BIGINT) AS n,
                   CAST(sum(x) OVER w AS BIGINT) AS sx,
                   CAST(sum(y) OVER w AS BIGINT) AS sy,
                   CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
                   sum(CAST(x AS DECIMAL(18,0)) * y) OVER w AS sxy
            FROM daily
            WINDOW w AS (ORDER BY x
                         ROWS BETWEEN {SLOPE_WINDOW - 1} PRECEDING
                                  AND CURRENT ROW)
        )
        SELECT x AS day_idx, y AS rev_cents,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 100
                   AS slope_dollars_per_day
        FROM m
        WHERE n = {SLOPE_WINDOW}
    """,
)
def ts_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling OLS trend: the regression slope of daily revenue over a
    sliding 14-day frame — the local-trend detector behind 'is revenue
    accelerating this fortnight' panels (stat_regr_trend's grouped OLS
    made WINDOWED; ts_ewma smooths level, this measures direction).
    Emitted once the frame is full.

    Exactness: x is an integer day index, y exact cents; all five
    rolling moments are exact integer/decimal frame sums (x*y needs
    DECIMAL — day_idx * cents exceeds neither, but their SUM can);
    the slope assembles in one fixed double expression (multiplication
    only — the Math.pow lesson) and is emitted UNROUNDED (exact
    inputs => bit-identical doubles; rounding would re-introduce the
    .005-tie seam ts_bollinger hit). Scale shape: fact table collapses
    to days; one bounded ordered window (the ts_downsample_lttb
    calendar-sized note applies)."""
    o = table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.datediff(
                F.date_trunc("day", "o_orderdate").cast("date"),
                F.lit("1995-01-01").cast("date"),
            )
            .cast("long")
            .alias("x"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("c"),
        )
        .groupBy("x")
        .agg(F.sum("c").cast("long").alias("y"))
    )
    w = Window.orderBy("x").rowsBetween(-(SLOPE_WINDOW - 1), 0)
    m = daily.select(
        "x",
        "y",
        F.count("*").over(w).cast("long").alias("n"),
        F.sum("x").over(w).cast("long").alias("sx"),
        F.sum("y").over(w).cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("long").alias("sxx"),
        F.sum(F.col("x").cast("decimal(18,0)") * F.col("y"))
        .over(w)
        .alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    den = nd * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx").cast("double")
    return m.filter(F.col("n") == SLOPE_WINDOW).select(
        F.col("x").alias("day_idx"),
        F.col("y").alias("rev_cents"),
        (num / den / 100).alias("slope_dollars_per_day"),
    )


#: Trailing window for weekly active users (days).
WAU_DAYS = 7


@register(
    "event_dau_wau",
    sql=f"""
        WITH ud AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('day', ts) AS DATE) AS d
            FROM events
        ),
        days AS (SELECT DISTINCT d FROM ud),
        contrib AS (
            SELECT DISTINCT user_id,
                   CAST(d + CAST(u.o AS INTEGER) AS DATE) AS d
            FROM ud, LATERAL unnest(range(0, {WAU_DAYS})) AS u(o)
        )
        SELECT days.d AS day,
               CAST((SELECT count(*) FROM ud WHERE ud.d = days.d)
                    AS BIGINT) AS dau,
               CAST((SELECT count(*) FROM contrib
                     WHERE contrib.d = days.d) AS BIGINT) AS wau
        FROM days
    """,
)
def event_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU — the growth dashboard's headline pair,
    computed EXACTLY (not sketched) with the contribution-explosion
    identity: a user active on day d is WAU-active on days d..d+6, so
    exploding each (user, day) into its 7 contribution days and
    re-distincting gives trailing distinct counts with NO sliding
    distinct-window (which Spark cannot express) and no 7 self-joins.
    Reported for days that actually have events (the fixture has no
    gaps; trailing windows beyond the last day are out of scope).

    Scale shape: the corpus collapses to DISTINCT (user, day) first —
    users x calendar, far below event grain; the 7x explosion runs on
    that collapsed relation; both counts are map-side-combinable
    distinct aggregates on the day key. The same identity extends to
    MAU with a 30x constant — linear, never quadratic."""
    e = table(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    ).distinct()
    dau = ud.groupBy("d").agg(F.count("*").cast("long").alias("dau"))
    contrib = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(F.lit(0), F.lit(WAU_DAYS - 1))
            ).alias("o"),
            "d",
        )
        .select("user_id", F.date_add(F.col("d"), F.col("o")).alias("d"))
        .distinct()
    )
    wau = contrib.groupBy("d").agg(F.count("*").cast("long").alias("wau"))
    return (
        dau.join(wau, "d")
        .select(F.col("d").alias("day"), "dau", "wau")
    )


#: Centered moving-average half-width for the classical decomposition
#: (full window = 2*3+1 = 7 days, the weekly-seasonality period).
STL_HALF = 3
STL_PERIOD = 7


@register(
    "ts_stl_decompose",
    sql=f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        AS BIGINT) AS y_cents
            FROM events GROUP BY 1, 2
        ),
        win AS (
            SELECT event_type, day, y_cents,
                   CAST(isodow(day) AS INTEGER) AS dow,
                   sum(y_cents) OVER w AS w_sum,
                   count(*) OVER w AS w_n
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN {STL_HALF} PRECEDING
                                  AND {STL_HALF} FOLLOWING)
        ),
        det AS (
            SELECT event_type, day, y_cents, dow,
                   CASE WHEN w_n = {STL_PERIOD} THEN w_sum END AS w7,
                   CASE WHEN w_n = {STL_PERIOD}
                        THEN {STL_PERIOD} * y_cents - w_sum END AS d7
            FROM win
        ),
        seas AS (
            SELECT event_type, dow,
                   CAST(sum(d7) AS BIGINT) AS s_sum,
                   CAST(count(d7) AS BIGINT) AS s_n
            FROM det GROUP BY 1, 2
        )
        SELECT d.event_type, d.day, d.y_cents,
               CAST(d.w7 AS DOUBLE) / {STL_PERIOD} AS trend_cents,
               CAST(s.s_sum AS DOUBLE) / (s.s_n * {STL_PERIOD})
                   AS seasonal_cents,
               CASE WHEN d.w7 IS NOT NULL THEN
                   d.y_cents - CAST(d.w7 AS DOUBLE) / {STL_PERIOD}
                   - CAST(s.s_sum AS DOUBLE) / (s.s_n * {STL_PERIOD})
               END AS residual_cents
        FROM det d JOIN seas s
          ON d.event_type = s.event_type AND d.dow = s.dow
        WHERE s.s_n > 0
    """,
)
def ts_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition (the moving-average STL
    ancestor, Cleveland et al.'s first stage): per event type, the
    daily value series splits into TREND (7-day centered moving
    average, defined only where the window is full — no edge bias),
    SEASONAL (mean detrended value per ISO weekday), and RESIDUAL
    (what anomaly detection should actually threshold — compare
    ts_anomaly_zscore, which thresholds the raw series and therefore
    alarms every weekend).

    Exactness discipline: the series is exact integer cents; the
    trend is carried as the exact 7-day window SUM (w7, a long) and
    the detrended series as 7*y - w7 (still exact longs), so the only
    floating-point steps are final single IEEE divisions (w7/7,
    s_sum/(n*7)) and one left-associated subtraction chain — each a
    fixed op sequence on identical operands, hence bit-identical
    across engines with NO rounding (the ts_bollinger lesson applied
    from the start). Scale shape: one groupBy(day) partial agg, one
    windowed pass per event_type partition, one weekday-cell agg
    (constant |types|*7 cells), one broadcastable join back — at 100
    TB the window partitions by event_type and days are calendar-
    bounded, so state never exceeds |types| * |days|."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("y_cents")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-STL_HALF, STL_HALF)
    )
    win = daily.select(
        "event_type",
        "day",
        "y_cents",
        (F.weekday("day") + 1).cast("int").alias("dow"),
        F.sum("y_cents").over(w).alias("w_sum"),
        F.count("*").over(w).alias("w_n"),
    )
    det = win.select(
        "event_type",
        "day",
        "y_cents",
        "dow",
        F.when(F.col("w_n") == STL_PERIOD, F.col("w_sum")).alias("w7"),
        F.when(
            F.col("w_n") == STL_PERIOD,
            STL_PERIOD * F.col("y_cents") - F.col("w_sum"),
        ).alias("d7"),
    )
    seas = det.groupBy("event_type", "dow").agg(
        F.sum("d7").cast("long").alias("s_sum"),
        F.count("d7").cast("long").alias("s_n"),
    )
    trend = F.col("w7").cast("double") / STL_PERIOD
    seasonal = F.col("s_sum").cast("double") / (F.col("s_n") * STL_PERIOD)
    return (
        det.join(F.broadcast(seas.filter(F.col("s_n") > 0)), ["event_type", "dow"])
        .select(
            "event_type",
            "day",
            "y_cents",
            trend.alias("trend_cents"),
            seasonal.alias("seasonal_cents"),
            F.when(
                F.col("w7").isNotNull(),
                F.col("y_cents") - trend - seasonal,
            ).alias("residual_cents"),
        )
    )


#: Pixel-bucket count for the M4 downsampler.
M4_BUCKETS = 20


@register(
    "ts_downsample_m4",
    sql=f"""
        WITH b AS (
            SELECT event_type,
                   CAST(round(value * 100) AS BIGINT) AS cents,
                   ts, event_id,
                   CAST(floor(epoch_us(ts)
                              / (86400000000.0 * 30 / {M4_BUCKETS}))
                        AS BIGINT)
                       - CAST(floor(epoch_us((SELECT min(ts) FROM events))
                              / (86400000000.0 * 30 / {M4_BUCKETS}))
                         AS BIGINT)
                       AS px
            FROM events
        ),
        r AS (
            SELECT event_type, px, cents,
                   row_number() OVER (PARTITION BY event_type, px
                                      ORDER BY ts, event_id) AS rf,
                   row_number() OVER (PARTITION BY event_type, px
                                      ORDER BY ts DESC, event_id DESC) AS rl
            FROM b
        )
        SELECT event_type, px,
               CAST(count(*) AS BIGINT) AS n,
               CAST(min(cents) AS BIGINT) AS min_cents,
               CAST(max(cents) AS BIGINT) AS max_cents,
               CAST(max(CASE WHEN rf = 1 THEN cents END) AS BIGINT)
                   AS first_cents,
               CAST(max(CASE WHEN rl = 1 THEN cents END) AS BIGINT)
                   AS last_cents
        FROM r
        GROUP BY event_type, px
    """,
    eager=True,
)
def ts_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB'14) — the pixel-exact
    companion to ts_downsample_lttb: per (series, pixel-column bucket)
    keep min, max, FIRST, and LAST value, which provably reproduces
    every line-rendering pixel of the full-resolution series on a
    width-M4_BUCKETS canvas. LTTB preserves visual SHAPE with a point
    budget; M4 preserves the exact raster — dashboards want M4,
    sparklines want LTTB, and a 100 TB store serves both from one
    scan. First/last are made deterministic under timestamp ties by
    the (ts, event_id) total order (the repo's tie-break discipline).

    Scale shape: two row_number windows + one aggregate sharing ONE
    (event_type, px)-compatible partitioning — Spark plans a single
    shuffle; per-pixel state is O(1), so the output is exactly
    |series| x M4_BUCKETS rows at any input size.

    Both engines compute px with the IDENTICAL IEEE op sequence
    floor(us / (86400e6 * 30 / M4_BUCKETS)) — a different association
    (us / 86400e6 / 30 * 20) rounds differently at bucket boundaries
    for epochs >= ~8.5e15 us (r9 advisor finding)."""
    ev = table(spark, sf_dir, "events")
    # scalar anchor, bounded — collected as exact integer MICROSECONDS
    # (a collected naive datetime's .timestamp() would re-interpret it
    # in the PROCESS timezone and could shift the floor by one pixel)
    lo_us = ev.agg(
        F.min(F.unix_micros(F.to_utc_timestamp("ts", "UTC")))
    ).collect()[0][0]
    us_per_px = 86_400_000_000.0 * 30 / M4_BUCKETS
    lo_px = F.floor(F.lit(lo_us) / us_per_px).cast("long")
    b = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        "ts",
        "event_id",
        (
            F.floor(F.unix_micros(F.to_utc_timestamp("ts", "UTC")) / us_per_px)
            .cast("long")
            - lo_px
        ).alias("px"),
    )
    wf = Window.partitionBy("event_type", "px").orderBy("ts", "event_id")
    wl = Window.partitionBy("event_type", "px").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    r = b.select(
        "event_type",
        "px",
        "cents",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wl).alias("rl"),
    )
    return r.groupBy("event_type", "px").agg(
        F.count("*").alias("n"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
        F.max(F.when(F.col("rf") == 1, F.col("cents"))).alias("first_cents"),
        F.max(F.when(F.col("rl") == 1, F.col("cents"))).alias("last_cents"),
    )


#: The unordered funnel's step set.
FUNNEL_STEPS = ("view", "click", "purchase")


@register(
    "event_funnel_unordered",
    sql="""
        WITH f AS (
            SELECT user_id,
                   min(ts) FILTER (WHERE event_type = 'view') AS t_view,
                   min(ts) FILTER (WHERE event_type = 'click') AS t_click,
                   min(ts) FILTER (WHERE event_type = 'purchase')
                       AS t_purchase
            FROM events GROUP BY user_id
        ),
        c AS (
            SELECT user_id,
                   (t_view IS NOT NULL)::INT + (t_click IS NOT NULL)::INT
                       + (t_purchase IS NOT NULL)::INT AS n_steps,
                   CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                             AND t_purchase IS NOT NULL
                        THEN epoch_us(greatest(t_view, t_click, t_purchase))
                             - epoch_us(least(t_view, t_click, t_purchase))
                   END AS span_us
            FROM f
        )
        SELECT CAST(n_steps AS INTEGER) AS n_steps,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(span_us) AS BIGINT) AS total_span_us,
               CAST(max(span_us) AS BIGINT) AS max_span_us
        FROM c
        GROUP BY n_steps
    """,
)
def event_funnel_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNORDERED funnel — the product-analytics complement to
    event_funnel's strict-sequence form: a user completes the funnel
    by performing ALL steps in ANY order (first-touch per step; the
    completion span is latest-first-touch minus earliest-first-touch).
    Ordered funnels answer "did the designed path happen"; unordered
    answers "did the user reach all milestones" — conversions that
    e.g. purchase before clicking the campaign still count here, and
    the histogram over n_steps completed is the funnel health readout.

    Scale shape: ONE map-side-combined aggregate per user (3
    conditional mins — no window, no self-join, unlike the ordered
    form's sequence match), then a 4-row histogram aggregate. Span
    arithmetic is exact integer microseconds."""
    ev = table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        *[
            F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"t_{s}")
            for s in FUNNEL_STEPS
        ]
    )
    ts_cols = [F.col(f"t_{s}") for s in FUNNEL_STEPS]
    n_steps = sum(
        c.isNotNull().cast("int") for c in ts_cols
    )
    us = lambda c: F.unix_micros(F.to_utc_timestamp(c, "UTC"))  # noqa: E731
    span = F.when(
        ts_cols[0].isNotNull() & ts_cols[1].isNotNull() & ts_cols[2].isNotNull(),
        us(F.greatest(*ts_cols)) - us(F.least(*ts_cols)),
    )
    c = f.select(
        n_steps.cast("int").alias("n_steps"), span.alias("span_us")
    )
    return c.groupBy("n_steps").agg(
        F.count("*").alias("n_users"),
        F.sum("span_us").cast("long").alias("total_span_us"),
        F.max("span_us").cast("long").alias("max_span_us"),
    )


@register(
    "event_cohort_ltv_curve",
    sql="""
        WITH first_seen AS (
            SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
            FROM events GROUP BY user_id
        ),
        sizes AS (
            SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users
            FROM first_seen GROUP BY cohort_week
        ),
        rev AS (
            SELECT f.cohort_week,
                   CAST(floor(epoch_us(date_trunc('week', e.ts)) / 604800000000)
                        - floor(epoch_us(f.cohort_week) / 604800000000)
                        AS BIGINT) AS age_weeks,
                   CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM events e
            JOIN first_seen f ON e.user_id = f.user_id
            WHERE e.event_type = 'purchase'
            GROUP BY 1, 2
        )
        SELECT CAST(r.cohort_week AS DATE) AS cohort_week,
               r.age_weeks, s.cohort_users, r.cents,
               CAST(sum(r.cents) OVER (PARTITION BY r.cohort_week
                                       ORDER BY r.age_weeks) AS BIGINT)
                   AS cum_cents,
               CAST(sum(r.cents) OVER (PARTITION BY r.cohort_week
                                       ORDER BY r.age_weeks) AS DOUBLE)
                   / s.cohort_users AS cum_cents_per_user
        FROM rev r JOIN sizes s ON r.cohort_week = s.cohort_week
    """,
)
def event_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV CURVE — the revenue side of event_retention_cohort:
    users cohorted by first-seen week, purchase revenue bucketed by
    cohort AGE in weeks, and the running cumulative (total and
    per-cohort-user) that an LTV payback model reads off. The age
    arithmetic is integer epoch-week subtraction (not datediff on
    timestamps), so a purchase in the cohort week is age 0 on both
    engines regardless of session timezone.

    Exactness: revenue in integer cents; the only double is the final
    single division by cohort size (unrounded, bit-identical). Scale
    shape: first-seen is one user-keyed aggregate; revenue is one
    (cohort, age) aggregate after an equi-join on user (both sides
    shuffle on user_id once — AQE broadcast-converts first_seen when a
    cohort dimension is small); the cumulative window runs over the
    tiny (cohort x age) relation, never the event log."""
    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    sizes = first_seen.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_users")
    )
    epw = lambda c: F.floor(  # noqa: E731
        F.unix_micros(F.to_utc_timestamp(c, "UTC")) / 604_800_000_000
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            (epw(F.date_trunc("week", F.col("ts"))) - epw(F.col("cohort_week")))
            .cast("long")
            .alias("age_weeks"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.partitionBy("cohort_week").orderBy("age_weeks")
    return (
        rev.join(F.broadcast(sizes), "cohort_week")
        .select(
            F.col("cohort_week").cast("date").alias("cohort_week"),
            "age_weeks",
            "cohort_users",
            "cents",
            F.sum("cents").over(w).cast("long").alias("cum_cents"),
            (
                F.sum("cents").over(w).cast("double") / F.col("cohort_users")
            ).alias("cum_cents_per_user"),
        )
    )


#: Abandonment window: a click converts if a purchase follows within
#: this many hours; otherwise the click is abandoned.
ABANDON_WINDOW_H = 24


@register(
    "event_abandoned_conversion",
    sql=f"""
        WITH clicks AS (
            SELECT user_id, event_id AS click_id, ts AS click_ts
            FROM events WHERE event_type = 'click'
        ),
        converted AS (
            SELECT DISTINCT c.click_id
            FROM clicks c
            JOIN events p
              ON p.user_id = c.user_id
             AND p.event_type = 'purchase'
             AND p.ts >= c.click_ts
             AND epoch_us(p.ts) < epoch_us(c.click_ts)
                 + {ABANDON_WINDOW_H} * 3600000000::BIGINT
        )
        SELECT c.user_id,
               CAST(count(*) AS BIGINT) AS n_clicks,
               CAST(count(*) FILTER (WHERE v.click_id IS NULL) AS BIGINT)
                   AS n_abandoned,
               CAST(count(*) FILTER (WHERE v.click_id IS NOT NULL) AS BIGINT)
                   AS n_converted
        FROM clicks c LEFT JOIN converted v ON c.click_id = v.click_id
        GROUP BY c.user_id
    """,
)
def event_abandoned_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABANDONMENT analysis — the time-windowed NOT-EXISTS pattern
    behind "abandoned cart" reports: a click converts if THE SAME USER
    purchases within ABANDON_WINDOW_H hours AFTER it; otherwise it is
    abandoned. This is the negative-space complement of event_funnel
    (which counts completed paths): operationally the more actionable
    number, and structurally a time-banded semi/anti-join rather than
    a sequence match.

    Implementation: one user-keyed equi-join with the time band as a
    join-side predicate, distinct converted click ids, then a
    left-join flag aggregate per user — Spark plans the user_id
    shuffle ONCE and reuses it through the aggregation. Interval
    arithmetic in exact integer microseconds (half-open window, the
    session_window boundary discipline). At 100 TB the equi-key keeps
    it a plain hash join; the band predicate filters inside the join,
    never a cross product."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    us = lambda c: F.unix_micros(F.to_utc_timestamp(c, "UTC"))  # noqa: E731
    converted = (
        clicks.join(
            pur,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("click_ts"))
            & (
                us(F.col("p_ts"))
                < us(F.col("click_ts")) + ABANDON_WINDOW_H * 3_600_000_000
            ),
        )
        .select("click_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        clicks.join(converted, "click_id", "left")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_clicks"),
            F.count_if(F.col("hit").isNull()).alias("n_abandoned"),
            F.count_if(F.col("hit").isNotNull()).alias("n_converted"),
        )
    )


#: STL-residual anomaly threshold: |residual - median| > K * MAD.
STL_ANOM_K = 5

# the registered STL SQL, reused verbatim as this oracle's base CTE so
# the two keys can never drift apart
_STL_BASE_SQL = REGISTRY["ts_stl_decompose"].sql


@register(
    "ts_anomaly_stl_residual",
    sql=f"""
        WITH base AS ({_STL_BASE_SQL}),
        r AS (
            SELECT event_type, day, residual_cents AS r
            FROM base WHERE residual_cents IS NOT NULL
        ),
        med AS (
            SELECT event_type, r AS med FROM (
                SELECT event_type, r,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY r, day) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM r
            ) WHERE rn = (n + 1) // 2
        ),
        dev AS (
            SELECT r.event_type, r.day, r.r, m.med,
                   abs(r.r - m.med) AS ad
            FROM r JOIN med m ON r.event_type = m.event_type
        ),
        mad AS (
            SELECT event_type, ad AS mad FROM (
                SELECT event_type, ad,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY ad, day) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM dev
            ) WHERE rn = (n + 1) // 2
        )
        SELECT d.event_type, d.day, d.r AS residual_cents, d.med, m.mad,
               abs(d.r - d.med) > {STL_ANOM_K} * m.mad AS is_anomaly
        FROM dev d JOIN mad m ON d.event_type = m.event_type
    """,
    # r15: the calendar-bounded residual relation is localCheckpointed
    # at plan time (see fn body), so fn() performs a plan-time job.
    eager=True,
)
def ts_anomaly_stl_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONALITY-AWARE anomaly detection — the detector the
    ts_stl_decompose docstring promises: threshold the STL RESIDUAL
    (what remains after trend and weekly seasonality are explained),
    not the raw series, so a busy-but-normal Monday never alarms and a
    quiet-for-a-Monday outage does. Robust scale: |residual - median|
    > K * MAD per event type (the ts_anomaly_mad recipe applied to the
    decomposed series).

    Exactness: the base decomposition is the REGISTERED ts_stl_decompose
    relation (its SQL embedded verbatim as this oracle's CTE, so the
    two keys cannot drift); median and MAD are exact ELEMENT SELECTION
    via row_number at rank (n+1) DIV 2 with a (value, day) total order
    — no interpolation, no engine median convention — and the flag is
    one comparison of deterministic doubles. Scale shape: the median
    windows run over the |types| x |days| RESIDUAL relation (calendar-
    bounded, never the event log), everything upstream is the
    decomposition's one-pass plan."""
    base = ts_stl_decompose(spark, sf_dir)
    # r15 (guide §1.2(1)/§5): the residual relation feeds FIVE plan
    # branches (med; dev inside mad, with med again; the final dev,
    # with med a third time), and AQE did not dedupe the repeated
    # decomposition subtrees — the before-plan re-ran the event-log
    # aggregation + trend/seasonal windows 8x (16 scans, 46
    # Exchanges). The relation is |types| x |days| — calendar-bounded
    # at ANY corpus size — so one eager checkpoint makes every
    # downstream branch read a tiny cached page instead.
    r = (
        base.filter(F.col("residual_cents").isNotNull())
        .select("event_type", "day", F.col("residual_cents").alias("r"))
        .localCheckpoint(eager=True)
    )

    def _median_of(df: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(col, "day")
        wn = Window.partitionBy("event_type")
        return (
            df.withColumn("rn", F.row_number().over(w))
            .withColumn("n", F.count("*").over(wn))
            .filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
            .select("event_type", F.col(col).alias(out))
        )

    med = _median_of(r, "r", "med")
    dev = r.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("r") - F.col("med"))
    )
    mad = _median_of(dev, "ad", "mad")
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "day",
        F.col("r").alias("residual_cents"),
        "med",
        "mad",
        (F.abs(F.col("r") - F.col("med")) > STL_ANOM_K * F.col("mad")).alias(
            "is_anomaly"
        ),
    )


#: DiD design: deterministic treatment assignment + mid-month cutover.
DID_POST_DAY = 16


@register(
    "event_did_analysis",
    sql=f"""
        WITH cells AS (
            SELECT (user_id % 2 = 0) AS treated,
                   day(ts) >= {DID_POST_DAY} AS post,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS cents,
                   CAST(count(*) AS BIGINT) AS n
            FROM events
            WHERE event_type = 'purchase'
            GROUP BY 1, 2
        ),
        m AS (
            SELECT
                max(CASE WHEN treated AND post
                         THEN CAST(cents AS DOUBLE) / n END) AS tp,
                max(CASE WHEN treated AND NOT post
                         THEN CAST(cents AS DOUBLE) / n END) AS tb,
                max(CASE WHEN NOT treated AND post
                         THEN CAST(cents AS DOUBLE) / n END) AS cp,
                max(CASE WHEN NOT treated AND NOT post
                         THEN CAST(cents AS DOUBLE) / n END) AS cb,
                CAST(sum(n) AS BIGINT) AS n_events
            FROM cells
        )
        SELECT n_events, tp AS treated_post_mean, tb AS treated_pre_mean,
               cp AS control_post_mean, cb AS control_pre_mean,
               (tp - tb) - (cp - cb) AS did_cents
        FROM m
    """,
)
def event_did_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES — the quasi-experimental readout a
    product team runs when an A/B test was impossible (feature shipped
    to a cohort at a date): the treatment effect is the treated
    group's pre-to-post change MINUS the control group's, which
    subtracts out the common time trend both groups share. Cells:
    deterministic treatment (user_id parity — standing in for the real
    rollout cohort) x mid-month cutover; metric = mean purchase cents.

    Exactness: the four cell means are exact-integer sums over exact
    counts (ONE map-side-combined aggregate into four cells), each a
    single IEEE division; the DiD estimate is one fixed
    fully-parenthesized expression over them — bit-identical across
    engines, shipped unrounded (the stat_regr_multi discipline).
    Scale: one corpus scan, a 4-row cell relation, a 1-row readout —
    DiD at 100 TB costs one aggregate."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    cells = ev.groupBy(
        (F.col("user_id") % 2 == 0).alias("treated"),
        (F.dayofmonth("ts") >= DID_POST_DAY).alias("post"),
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents"),
        F.count("*").alias("n"),
    )
    mean = F.col("cents").cast("double") / F.col("n")
    pick = lambda t, p: F.max(  # noqa: E731
        F.when((F.col("treated") == t) & (F.col("post") == p), mean)
    )
    m = cells.agg(
        pick(True, True).alias("tp"),
        pick(True, False).alias("tb"),
        pick(False, True).alias("cp"),
        pick(False, False).alias("cb"),
        F.sum("n").cast("long").alias("n_events"),
    )
    return m.select(
        "n_events",
        F.col("tp").alias("treated_post_mean"),
        F.col("tb").alias("treated_pre_mean"),
        F.col("cp").alias("control_post_mean"),
        F.col("cb").alias("control_pre_mean"),
        (
            (F.col("tp") - F.col("tb")) - (F.col("cp") - F.col("cb"))
        ).alias("did_cents"),
    )


@register(
    "ts_theil_sen",
    sql="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM events GROUP BY 1, 2
        ),
        d2 AS (
            SELECT event_type, day,
                   CAST(day - (SELECT min(day) FROM daily) AS BIGINT) AS x,
                   cents
            FROM daily
        ),
        slopes AS (
            SELECT a.event_type,
                   CAST(b.cents - a.cents AS DOUBLE) / (b.x - a.x) AS slope
            FROM d2 a JOIN d2 b
              ON a.event_type = b.event_type AND a.x < b.x
        ),
        ranked AS (
            SELECT event_type, slope,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY slope) AS rk,
                   count(*) OVER (PARTITION BY event_type) AS n_pairs
            FROM slopes
        )
        SELECT event_type,
               CAST(max(n_pairs) AS BIGINT) AS n_pairs,
               max(CASE WHEN rk = CAST(ceil(n_pairs * 0.5) AS BIGINT)
                        THEN slope END) AS theil_sen_cents_per_day
        FROM ranked GROUP BY event_type
    """,
    eager=True,
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN robust trend per series: the MEDIAN of all pairwise
    day-to-day slopes of the daily revenue series — the estimator that
    shrugs off the outlier days that wreck least-squares
    (stat_regr_trend's complement: 29.3% breakdown point vs 0%). The
    median is an ORDER STATISTIC (the rank-ceil(n/2) slope under a
    value sort, percentile_disc semantics), never an interpolated
    quantile — interpolation conventions differ across engines while
    selection of an existing value is exact everywhere; slope ties at
    the selection boundary are harmless because row_number permutes
    only equal VALUES (the selected value is tie-invariant).

    Scale shape: the pairwise relation is per-series days^2 — bounded
    by the CALENDAR (a year of daily buckets is ~66k pairs per
    series), not by corpus size; the heavy input reduction is the
    daily partial aggregate, which is scan-shaped. Slopes are exact
    BIGINT cent differences over exact integer day gaps with ONE
    double division, so every value replays bit-identically in
    DuckDB."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents")
    )
    d0 = daily.agg(F.min("day")).collect()[0][0]
    d2 = daily.select(
        "event_type",
        F.datediff(F.col("day"), F.lit(d0)).cast("long").alias("x"),
        "cents",
    )
    a = d2.select(
        "event_type", F.col("x").alias("xa"), F.col("cents").alias("ca")
    )
    b = d2.select(
        "event_type", F.col("x").alias("xb"), F.col("cents").alias("cb")
    )
    slopes = a.join(b, "event_type").filter(F.col("xa") < F.col("xb")).select(
        "event_type",
        (
            (F.col("cb") - F.col("ca")).cast("double")
            / (F.col("xb") - F.col("xa"))
        ).alias("slope"),
    )
    wr = Window.partitionBy("event_type").orderBy("slope")
    wn = Window.partitionBy("event_type")
    ranked = slopes.select(
        "event_type",
        "slope",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(wn).alias("n_pairs"),
    )
    return ranked.groupBy("event_type").agg(
        F.max("n_pairs").cast("long").alias("n_pairs"),
        F.max(
            F.when(
                F.col("rk")
                == F.ceil(F.col("n_pairs") * 0.5).cast("long"),
                F.col("slope"),
            )
        ).alias("theil_sen_cents_per_day"),
    )


#: Right-censoring horizon for the survival curve: a user whose last
#: event falls within this many days of corpus end is CENSORED (still
#: active), not churned — the standard guard against calling everyone
#: who joined recently a churner.
KM_CENSOR_DAYS = 7


_KAPLAN_MEIER_SQL = f"""
    WITH per_user AS (
        SELECT user_id,
               min(CAST(ts AS DATE)) AS first_day,
               max(CAST(ts AS DATE)) AS last_day
        FROM events GROUP BY user_id
    ),
    horizon AS (SELECT max(last_day) AS corpus_end FROM per_user),
    lifetimes AS (
        SELECT date_diff('day', first_day, last_day) AS dur_days,
               CASE WHEN date_diff('day', last_day, h.corpus_end)
                         > {KM_CENSOR_DAYS}
                    THEN 1 ELSE 0 END AS churned
        FROM per_user, horizon h
    ),
    km AS (
        SELECT CAST(dur_days AS BIGINT) AS dur_days,
               CAST(count(*) AS BIGINT) AS n_leaving,
               CAST(sum(churned) AS BIGINT) AS n_events,
               CAST(count(*) - sum(churned) AS BIGINT) AS n_censored
        FROM lifetimes GROUP BY dur_days
    ),
    risk AS (
        SELECT dur_days, n_events, n_censored,
               sum(n_leaving) OVER (
                   ORDER BY dur_days
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS n_risk
        FROM km
    )
    SELECT dur_days, CAST(n_risk AS BIGINT) AS n_risk, n_events,
           n_censored,
           round(exp(sum(ln(greatest(
                   1.0 - CAST(n_events AS DOUBLE) / n_risk, 1e-300)))
               OVER (ORDER BY dur_days
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
               6) AS survival
    FROM risk
"""


@register("ts_kaplan_meier", sql=_KAPLAN_MEIER_SQL)
def ts_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over user lifetimes with right
    censoring — the survival-analysis view of retention that
    event_retention_cohort's fixed cohort grid cannot give (KM uses
    every user's full observation window and handles staggered entry
    correctly). Lifetime = days between a user's first and last
    event; users whose last event is within KM_CENSOR_DAYS of corpus
    end are CENSORED (they leave the risk set without counting as
    churn — the standard correction without which recent joiners all
    look like churners). S(t) = prod over t_i <= t of
    (1 - d_i / n_i), computed as exp of a running sum of logs so the
    cumulative product is a single window (d_i = n_i collapses
    survival to 0 via the 1e-300 floor, which rounds to 0.0 on both
    engines regardless of libm ulp; round(6) absorbs the rest).
    Scale shape: ONE user-grain aggregation shuffle (the corpus-sized
    pass), then everything is duration-grain — a relation bounded by
    the observation window in DAYS, so the two ordered windows run on
    dozens of rows; the corpus-end horizon is a 1-row broadcast
    (sub_scalar pattern). Output per distinct lifetime: (dur_days,
    n_risk, n_events, n_censored, survival)."""
    events = table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day"),
        F.max(F.col("ts").cast("date")).alias("last_day"),
    )
    # r15 (guide §2.4): max(last_day) over users == max(cast(ts as
    # date)) over events, so the horizon comes straight off the event
    # scan (map-side partial max, 1-row exchange) instead of
    # re-running the whole user-grain aggregation — the before-plan
    # carried TWO user-keyed Exchanges over two full scans.
    horizon = events.agg(
        F.max(F.col("ts").cast("date")).alias("corpus_end")
    )
    lifetimes = per_user.crossJoin(F.broadcast(horizon)).select(
        F.datediff("last_day", "first_day").alias("dur_days"),
        (
            F.datediff("corpus_end", "last_day") > KM_CENSOR_DAYS
        ).cast("int").alias("churned"),
    )
    km = lifetimes.groupBy("dur_days").agg(
        F.count("*").alias("n_leaving"),
        F.sum("churned").alias("n_events"),
        (F.count("*") - F.sum("churned")).alias("n_censored"),
    )
    w_risk = Window.orderBy("dur_days").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    w_cum = Window.orderBy("dur_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = km.select(
        F.col("dur_days").cast("long").alias("dur_days"),
        F.sum("n_leaving").over(w_risk).alias("n_risk"),
        "n_events",
        "n_censored",
    )
    return risk.select(
        "dur_days",
        "n_risk",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_censored").cast("long").alias("n_censored"),
        F.round(
            F.exp(
                F.sum(
                    F.log(
                        F.greatest(
                            F.lit(1.0)
                            - F.col("n_events").cast("double")
                            / F.col("n_risk"),
                            F.lit(1e-300),
                        )
                    )
                ).over(w_cum)
            ),
            6,
        ).alias("survival"),
    )
