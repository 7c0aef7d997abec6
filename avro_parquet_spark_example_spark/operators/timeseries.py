"""Time-series operators over the ``events`` stream table.

The reference demonstrated SQL over Parquet-backed tables (SURVEY.md §0);
the driver extends the surface to stream/event data (TESTDATA.md "events
stream table"). Group G covers windowed/sessionized aggregation; this
module adds the two classic time-series reshaping operators a training-data
pipeline needs on event logs: downsampling (OHLC per key per bucket) and
regular-grid resampling with forward fill.

Determinism (SURVEY.md §5): the synthetic events have no duplicate
(user_id, ts) pairs, so ``max_by(value, ts)`` / ``ARG_MAX(value, ts)`` pick
the same row in both engines; all output values are raw stored doubles (no
float arithmetic), so hash checks are exact.

Scale notes (100 TB): both operators are single-shuffle per aggregation,
keyed on (user_id[, day]) — no global window anywhere. The grid explode in
the resampler is bounded per key by the key's own date span (here ≤30
days; in production the resample range is a query parameter), and the
forward-fill window partitions by key, so state per task is one key's
grid. At 1000 executors this is embarrassingly key-parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from avro_parquet_spark_example_spark.registry import register
from avro_parquet_spark_example_spark.sources.catalog import load, ts_us


@register(
    "ts_ohlc_daily",
    oracle="""
    SELECT user_id, CAST(ts AS DATE) AS day,
           ARG_MIN(value, ts) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           ARG_MAX(value, ts) AS close,
           COUNT(*) AS n_events
    FROM events
    WHERE user_id < 30
    GROUP BY user_id, CAST(ts AS DATE)
    """,
)
def ts_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample each user's event stream to daily OHLC bars: first/max/
    min/last value per (user, day). ``min_by``/``max_by`` are Tungsten-native
    single-pass aggregates — one shuffle keyed (user_id, day), map-side
    partials, no window function and no self-join."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    day = F.col("ts").cast("date").alias("day")
    return ev.groupBy("user_id", day).agg(
        F.min_by("value", "ts").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "ts").alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "ts_resample_ffill",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day, ARG_MAX(value, ts) AS close
        FROM events WHERE user_id < 30
        GROUP BY user_id, CAST(ts AS DATE)
    ),
    grid AS (
        SELECT user_id,
               CAST(UNNEST([d0 + INTERVAL (i) DAY
                            FOR i IN RANGE(0, DATEDIFF('day', d0, d1) + 1)])
                    AS DATE) AS day
        FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
              FROM daily GROUP BY user_id)
    )
    SELECT g.user_id, g.day,
           LAST_VALUE(d.close IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_ffill,
           d.close IS NOT NULL AS observed
    FROM grid g LEFT JOIN daily d
      ON d.user_id = g.user_id AND d.day = g.day
    """,
)
def ts_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's stream onto a regular daily grid over the key's
    own [first, last] span, forward-filling days with no events from the
    last observed daily close (pandas ``resample('D').ffill()`` semantics,
    expressed distributed). The grid is ``sequence()`` + ``explode`` — per
    key, never a global calendar cross join; the fill is a per-key running
    ``last(ignorenulls)`` window. The first grid day is by construction
    observed, so no leading NULLs."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.max_by("value", "ts").alias("close"))
    grid = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.last("close", ignorenulls=True).over(w).alias("value_ffill"),
            F.col("close").isNotNull().alias("observed"),
        )
    )


@register(
    "ts_funnel_conversion",
    oracle="""
    WITH s AS (
        SELECT user_id, MIN(ts) AS signup_ts
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    c AS (
        SELECT s.user_id,
               MAX(CASE WHEN e.ts > s.signup_ts
                         AND e.ts <= s.signup_ts + INTERVAL 7 DAY
                        THEN 1 ELSE 0 END) AS converted
        FROM s
        LEFT JOIN events e
               ON e.user_id = s.user_id AND e.event_type = 'purchase'
        GROUP BY s.user_id
    )
    SELECT COUNT(*) AS n_signup_users,
           CAST(SUM(converted) AS BIGINT) AS n_converted,
           ROUND(SUM(converted) * 1.0 / COUNT(*), 4) AS conversion_rate
    FROM c
    """,
)
def ts_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel over the event stream: of the users who signed up,
    how many purchased within 7 days AFTER their first signup. One shuffle
    for the per-user first-signup aggregate, one key-partitioned join
    against the purchase sub-stream (filter pushed to the scan), one
    per-user flag aggregate, then a 1-row combine — every stage keyed on
    user_id, so at 100 TB the funnel is embarrassingly key-parallel with
    map-side partials. The integer flag sum and a rounded ratio keep the
    hash check exact cross-engine."""
    ev = load(spark, sf_dir, "events")
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchase = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    flags = (
        signup.join(
            purchase,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_ts") > F.col("signup_ts"))
            & (F.col("p_ts") <= F.col("signup_ts") + F.expr("INTERVAL 7 DAYS")),
            "left",
        )
        .groupBy("user_id")
        .agg(F.max(F.col("p_ts").isNotNull().cast("int")).alias("converted"))
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_signup_users"),
        F.sum("converted").alias("n_converted"),
        F.round(F.sum("converted") / F.count(F.lit(1)), 4).alias("conversion_rate"),
    )


@register(
    "ts_cohort_retention",
    oracle="""
    WITH first AS (
        SELECT user_id, CAST(DATE_TRUNC('week', MIN(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    )
    SELECT f.cohort_week,
           CAST(DATE_DIFF('day', f.cohort_week,
                          CAST(DATE_TRUNC('week', e.ts) AS DATE)) / 7 AS INT)
             AS week_n,
           COUNT(DISTINCT e.user_id) AS n_active
    FROM events e JOIN first f ON f.user_id = e.user_id
    GROUP BY 1, 2
    """,
)
def ts_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the ISO week of their first
    event, counted distinct in each subsequent activity week. The per-user
    first-event aggregate and the cohort⋈activity join are both keyed on
    user_id (one shuffle each, map-side partials); the final
    (cohort, week) distinct-count re-keys onto the small cohort-grid
    domain. Both engines truncate weeks to Monday, so the day-difference
    is exactly divisible by 7 and the integer week index is exact."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy(F.col("user_id").alias("f_user")).agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    return (
        ev.join(first, F.col("f_user") == F.col("user_id"))
        .select(
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")).cast("date"), F.col("cohort_week"))
                / 7
            )
            .cast("int")
            .alias("week_n"),
            "user_id",
        )
        .groupBy("cohort_week", "week_n")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@register(
    "cdc_latest_compaction",
    oracle="""
    SELECT user_id, ts_us, value AS latest_value, n_changes
    FROM (
        SELECT user_id,
               EPOCH_US(ts) AS ts_us,
               value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY EPOCH_US(ts) DESC, event_id DESC) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_changes
        FROM events
    ) WHERE rn = 1
    """,
)
def cdc_latest_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS5 — CDC log compaction (latest-wins): the events table read as a
    changelog keyed by user, collapsed to each key's most recent record
    (ts desc, event_id desc as the deterministic tiebreaker) plus its
    change count — the read-side of upsert_merge_keyed, and the compaction
    every CDC-fed lakehouse table needs periodically so read amplification
    doesn't grow with the changelog. One window per key partition, no
    global stage; at 100 TB the same rank-and-filter runs per partition of
    the changelog (typically per day) and only touched keys rewrite.
    Timestamps are compared as epoch microseconds — both engines truncate
    the Parquet nanos to µs identically."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts_us"), F.desc("event_id")
    )
    return (
        e.select(
            "user_id",
            ts_us(e).alias("ts_us"),
            "value",
            "event_id",
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_changes", F.count(F.lit(1)).over(Window.partitionBy("user_id"))
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "ts_us", F.col("value").alias("latest_value"), "n_changes")
    )


@register(
    "scd2_intervals",
    oracle="""
    SELECT user_id,
           EPOCH_US(ts) AS valid_from_us,
           LEAD(EPOCH_US(ts)) OVER (PARTITION BY user_id
                                    ORDER BY EPOCH_US(ts), event_id) AS valid_to_us,
           value,
           (LEAD(EPOCH_US(ts)) OVER (PARTITION BY user_id
                                     ORDER BY EPOCH_US(ts), event_id) IS NULL)
             AS is_current
    FROM events
    """,
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS6 — slowly-changing-dimension type 2: turn a keyed changelog into
    validity intervals ([valid_from, valid_to) per version, open-ended for
    the current row) with one LEAD window per key — the standard
    history-table build. Downstream, point-in-time lookups become a range
    join on (key, as_of BETWEEN valid_from AND valid_to), the shape
    join_range_band and join_asof_event already cover. Same single
    key-partitioned window as every op in this family — no global sort at
    any scale."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("valid_from_us", "event_id")
    lead_us = F.lead("valid_from_us").over(w)
    return (
        e.select(
            "user_id",
            ts_us(e).alias("valid_from_us"),
            "value",
            "event_id",
        )
        .select(
            "user_id",
            "valid_from_us",
            lead_us.alias("valid_to_us"),
            "value",
            lead_us.isNull().alias("is_current"),
        )
    )


@register(
    "ts_anomaly_zscore",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    stats AS (
        SELECT event_type,
               COUNT(*) AS n_days,
               CAST(SUM(CAST(n AS DECIMAL(30,0))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(n AS DECIMAL(30,0)) * CAST(n AS DECIMAL(30,0)))
                    AS DOUBLE) AS s2
        FROM daily GROUP BY event_type
    )
    SELECT d.event_type, d.day, d.n,
           ROUND((d.n - s.s1 / s.n_days)
                 / SQRT((s.s2 - s.s1 * s.s1 / s.n_days) / (s.n_days - 1)),
                 6) AS zscore
    FROM daily d JOIN stats s ON s.event_type = d.event_type
    WHERE ABS((d.n - s.s1 / s.n_days)
              / SQRT((s.s2 - s.s1 * s.s1 / s.n_days) / (s.n_days - 1))) > 2
    """,
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS8 — event-volume anomaly detection: days whose event count is more
    than 2 standard deviations from that event type's daily mean — the
    ops-monitoring query every event pipeline runs. Spark's stddev
    aggregates fold doubles in partition order (nondeterministic bits), so
    mean and variance are derived from EXACT decimal sums (counts are
    integers — s1/s2 are exact, and the mean/variance arithmetic is then a
    fixed IEEE sequence identical on both engines; the dsum rule applied
    to second moments).

    Scale shape: two map-side-combined aggregations (daily counts, then
    per-type moments — type-cardinality rows) and one broadcast join of
    the tiny stats table back onto the daily series. At 100 TB the daily
    grid is (types × days), megabytes."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    nd = F.col("n").cast("decimal(30,0)")
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(nd).cast("double").alias("s1"),
        F.sum(nd * nd).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n_days")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_days")) / (
        F.col("n_days") - 1
    )
    z = (F.col("n") - mean) / F.sqrt(var)
    return (
        daily.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 2)
        .select("event_type", "day", "n", F.round(z, 6).alias("zscore"))
    )


@register(
    "ts_trend_ols",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
               COUNT(*) AS y
        FROM events GROUP BY 1, 2
    ),
    m AS (
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(x AS DECIMAL(30,0))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(30,0))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(30,0)) * CAST(y AS DECIMAL(30,0)))
                    AS DOUBLE) AS sxy,
               CAST(SUM(CAST(x AS DECIMAL(30,0)) * CAST(x AS DECIMAL(30,0)))
                    AS DOUBLE) AS sxx
        FROM daily GROUP BY event_type
    )
    SELECT event_type, n AS n_days,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             AS intercept
    FROM m
    """,
)
def ts_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS9 — per-type volume trend by closed-form OLS: slope and intercept
    of daily event counts against the day index — the "is this stream
    growing?" line every ops dashboard fits. Like ts_anomaly_zscore, the
    moments (Σx, Σy, Σxy, Σx²) are EXACT decimal sums of integers, so the
    slope/intercept arithmetic is a fixed IEEE sequence identical on both
    engines — no Spark regr_slope (which folds doubles in partition
    order). Two map-side-combined aggregations; the moments table is
    type-cardinality. The same exact-moment trick generalizes to any
    closed-form estimator at 100 TB."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias(
            "x"
        ),
    ).agg(F.count(F.lit(1)).alias("y"))
    xd = F.col("x").cast("decimal(30,0)")
    yd = F.col("y").cast("decimal(30,0)")
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return m.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(slope, 9).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


@register(
    "ts_ewma",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    idx AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
        FROM daily
    ),
    t AS (
        SELECT *,
               CASE WHEN rn = 1 THEN 2 * n
                    ELSE (CAST(1 AS BIGINT) << CAST(rn - 1 AS INT)) * n
               END AS tw
        FROM idx
    )
    SELECT event_type, day, n,
           CAST(SUM(tw) OVER (PARTITION BY event_type ORDER BY rn) AS DOUBLE)
             / CAST(CAST(1 AS BIGINT) << CAST(rn AS INT) AS DOUBLE) AS ewma
    FROM t
    """,
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS10 — exponentially weighted moving average (α = 1/2) of each
    type's daily event count — the smoothing every monitoring dashboard
    applies before thresholding. The recursion y_i = αx_i + (1−α)y_{i−1}
    looks inherently sequential, but with dyadic α it has an EXACT
    distributed closed form: 2^n·y_n = 2x_1 + Σ_{i≥2} 2^{i−1}x_i, so the
    EWMA is one running-sum window over weighted counts, divided by 2^n.
    The weights and the running sum are DOUBLEs holding integers: while
    the sum stays below 2^53 every step is exact and the final division
    only rescales the exponent, so the result is bit-identical to the
    oracle's BIGINT form (the fixtures span 30 days: sums < 2^40).
    Longer series round each addition once (relative error ~2^-53 per
    step) instead of overflowing BIGINT past 62 days, which a ×10 events
    log with disjoint 366-day copies reaches; 2^rn stays finite up to
    1023 days per key.

    Scale shape: one map-side-combined count, one per-key window — the
    same single-shuffle profile as every operator in this family."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    idx = daily.withColumn("rn", F.row_number().over(w))
    tw = F.when(F.col("rn") == 1, 2 * F.col("n")).otherwise(
        F.pow(F.lit(2.0), F.col("rn") - 1) * F.col("n")
    )
    run = Window.partitionBy("event_type").orderBy("rn")
    return (
        idx.withColumn("tw", tw.cast("double"))
        .withColumn("ewma", F.sum("tw").over(run) / F.pow(F.lit(2.0), F.col("rn")))
        .select("event_type", "day", "n", "ewma")
    )


@register(
    "ts_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY EPOCH_US(ts), event_id) AS prev_type
        FROM events
    ),
    c AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY prev_type), 9) AS p
    FROM c
    """,
)
def ts_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS11 — first-order Markov transition matrix over each user's event
    sequence: LAG pairs consecutive event types per user, counts roll up
    to the |types|² matrix, and row-normalization yields transition
    probabilities — the sequence model behind next-event prediction,
    funnel-drop analysis, and bot detection (a scripted user's matrix is
    near-deterministic; an organic one is diffuse). Deterministic: the
    sequence order is (epoch-µs, event_id) — a total order — counts are
    exact integers and each probability is one int/int division.

    Scale shape: one per-user window (shuffle keyed user_id — sequences
    stay local to their key), one map-side-combined count to |types|²
    rows, and the normalizing window runs on that tiny matrix. 100 TB of
    events reduces to a |types|²-row matrix in exactly two shuffles."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(ts_us(e).asc(), F.col("event_id").asc())
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    c = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    norm = Window.partitionBy("prev_type")
    return c.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") * 1.0 / F.sum("n").over(norm), 9).alias("p"),
    )


@register(
    "snapshot_diff_daily",
    oracle="""
    WITH a AS (
        SELECT user_id, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS v
        FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-10'
        GROUP BY user_id
    ),
    b AS (
        SELECT user_id, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS v
        FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-11'
        GROUP BY user_id
    )
    SELECT COALESCE(a.user_id, b.user_id) AS user_id,
           CASE WHEN a.user_id IS NULL THEN 'added'
                WHEN b.user_id IS NULL THEN 'removed'
                WHEN a.n <> b.n OR a.v <> b.v THEN 'changed'
                ELSE 'unchanged' END AS change,
           a.n AS n_before, b.n AS n_after,
           a.v AS v_before, b.v AS v_after
    FROM a FULL OUTER JOIN b ON b.user_id = a.user_id
    """,
)
def snapshot_diff_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS12 — snapshot diff between two partition states: per-user
    aggregates of consecutive day partitions full-outer joined into an
    added / removed / changed / unchanged changelog — the reconciliation
    query behind time travel, CDC validation, and incremental-pipeline
    drift debugging (upsert_merge_keyed applies changes; this one AUDITS
    them). Value sums run through exact DECIMAL(30,4) accumulators (the
    repo's dsum rule) so 'changed' is a bit-exact verdict, not a float
    tolerance.

    Scale shape: each snapshot side is one partition-pruned scan (the day
    predicate prunes at the file level under the partitioned layout of
    events_partitioned_by_day) + a map-side-combined agg to user
    cardinality; the diff is one shuffle join on user_id. Diffing two
    100 TB table versions costs two pruned scans, never a full-history
    read."""
    e = load(spark, sf_dir, "events")
    day = F.col("ts").cast("date")

    def snap(d: str) -> DataFrame:
        return (
            e.filter(day == F.lit(d).cast("date"))
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(30,4)"))
                .cast("double")
                .alias("v"),
            )
        )

    a = snap("2024-01-10").select(
        F.col("user_id").alias("ua"),
        F.col("n").alias("n_before"),
        F.col("v").alias("v_before"),
    )
    b = snap("2024-01-11").select(
        F.col("user_id").alias("ub"),
        F.col("n").alias("n_after"),
        F.col("v").alias("v_after"),
    )
    change = (
        F.when(F.col("ua").isNull(), "added")
        .when(F.col("ub").isNull(), "removed")
        .when(
            (F.col("n_before") != F.col("n_after"))
            | (F.col("v_before") != F.col("v_after")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return a.join(b, F.col("ua") == F.col("ub"), "full_outer").select(
        F.coalesce("ua", "ub").alias("user_id"),
        change.alias("change"),
        "n_before",
        "n_after",
        "v_before",
        "v_after",
    )


@register(
    "ts_pattern_runs",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day, ARG_MAX(value, ts) AS close
        FROM events WHERE user_id < 60
        GROUP BY user_id, CAST(ts AS DATE)
    ),
    flagged AS (
        SELECT user_id, day, close,
               CASE WHEN LAG(close) OVER w IS NULL
                      OR close <= LAG(close) OVER w
                    THEN 1 ELSE 0 END AS brk
        FROM daily
        WINDOW w AS (PARTITION BY user_id ORDER BY day)
    ),
    runs AS (
        SELECT user_id, day, close,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY day
                              ROWS UNBOUNDED PRECEDING) AS run_id
        FROM flagged
    )
    SELECT user_id, MIN(day) AS run_start, MAX(day) AS run_end,
           COUNT(*) AS run_len,
           ARG_MIN(close, day) AS start_close,
           ARG_MAX(close, day) AS end_close
    FROM runs
    GROUP BY user_id, run_id
    HAVING COUNT(*) >= 3
    """,
)
def ts_pattern_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS13 — sequence-pattern detection (the MATCH_RECOGNIZE shape Spark
    lacks natively): maximal runs of ≥3 strictly-increasing daily closes
    per user — momentum/anomaly patterns over keyed series, expressed as
    the classic two-window composition: a LAG comparison flags run
    breaks, a running sum of breaks numbers the runs (gaps-and-islands),
    and one aggregate per (user, run) emits start/end/length/endpoints.
    Every comparison is on stored doubles (no arithmetic), so the run
    structure is bit-deterministic on both engines.

    Scale: two windows + one aggregate, ALL partitioned by user_id — one
    shuffle total, sequences never leave their key's partition. The same
    skeleton expresses any regex-over-rows pattern (A+ B{2,} C) by
    changing the break predicate — this is the distributed fallback for
    MATCH_RECOGNIZE at 100 TB, where a single-node pattern engine
    would need the full series in one place."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 60)
    daily = e.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.max_by("value", "ts").alias("close"))
    w = Window.partitionBy("user_id").orderBy("day")
    prev = F.lag("close").over(w)
    flagged = daily.withColumn(
        "brk",
        F.when(prev.isNull() | (F.col("close") <= prev), 1).otherwise(0),
    )
    run_w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    runs = flagged.withColumn("run_id", F.sum("brk").over(run_w))
    return (
        runs.groupBy("user_id", "run_id")
        .agg(
            F.min("day").alias("run_start"),
            F.max("day").alias("run_end"),
            F.count(F.lit(1)).alias("run_len"),
            F.min_by("close", "day").alias("start_close"),
            F.max_by("close", "day").alias("end_close"),
        )
        .filter(F.col("run_len") >= 3)
        .drop("run_id")
    )


@register(
    "ts_autocorr_lag",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               COUNT(*) AS n
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    stats AS (
        SELECT event_type, COUNT(*) AS n_days, SUM(n) AS s
        FROM daily GROUP BY event_type
    ),
    centered AS (
        SELECT d.event_type, d.day, s.n_days,
               CAST(s.n_days * d.n - s.s AS DECIMAL(19,0)) AS c
        FROM daily d JOIN stats s ON s.event_type = d.event_type
    ),
    lagged AS (
        SELECT event_type, n_days, c,
               LAG(c, 1) OVER w AS c1,
               LAG(c, 2) OVER w AS c2,
               LAG(c, 3) OVER w AS c3
        FROM centered
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, MIN(n_days) AS n_days,
           CAST(SUM(c * c) AS DOUBLE) AS den,
           CAST(SUM(c * c1) AS DOUBLE) AS num1,
           CAST(SUM(c * c2) AS DOUBLE) AS num2,
           CAST(SUM(c * c3) AS DOUBLE) AS num3,
           ROUND(CAST(SUM(c * c1) AS DOUBLE) / CAST(SUM(c * c) AS DOUBLE), 6)
               AS r1,
           ROUND(CAST(SUM(c * c2) AS DOUBLE) / CAST(SUM(c * c) AS DOUBLE), 6)
               AS r2,
           ROUND(CAST(SUM(c * c3) AS DOUBLE) / CAST(SUM(c * c) AS DOUBLE), 6)
               AS r3
    FROM lagged
    GROUP BY event_type
    """,
)
def ts_autocorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS — lag-1/2/3 autocorrelation of the daily event-count series per
    event type (the seasonality / burstiness probe run before choosing a
    forecasting model or a partition layout for a time-keyed table).

    Exactness: counts are integers, so the centered series is computed as
    ``n_days·x_t − S`` (the mean multiplied through — an exact integer),
    and every numerator/denominator is an exact DECIMAL sum of integer
    products; the only float ops are the final division and ROUND — a
    fixed IEEE sequence identical on both engines (the repo's standard
    decimal-moments rule). Autocorrelation is over the OBSERVED day
    sequence (gap days absent on both sides, same convention).

    Scale shape: one map-side-combined daily aggregation, a broadcast of
    the per-type stats, one shuffle by event_type for the lag window
    (partition cardinality = types × days — tiny), then a final
    type-cardinality aggregate. At 100 TB the raw scan dominates; the
    series math is megabytes."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("n").alias("s")
    )
    centered = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day",
        "n_days",
        (F.col("n_days") * F.col("n") - F.col("s"))
        .cast("decimal(19,0)")
        .alias("c"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = centered.select(
        "event_type",
        "n_days",
        "c",
        F.lag("c", 1).over(w).alias("c1"),
        F.lag("c", 2).over(w).alias("c2"),
        F.lag("c", 3).over(w).alias("c3"),
    )
    c = F.col("c")
    den = F.sum(c * c).cast("double")
    nums = [F.sum(c * F.col(f"c{k}")).cast("double") for k in (1, 2, 3)]
    return lagged.groupBy("event_type").agg(
        F.min("n_days").alias("n_days"),
        den.alias("den"),
        nums[0].alias("num1"),
        nums[1].alias("num2"),
        nums[2].alias("num3"),
        F.round(nums[0] / den, 6).alias("r1"),
        F.round(nums[1] / den, 6).alias("r2"),
        F.round(nums[2] / den, 6).alias("r3"),
    )


#: Capped-sessionization parameters, in epoch microseconds: a session ends
#: after 24 h of inactivity OR when it has spanned 72 h since its anchor.
SESS_GAP_US = 24 * 3600 * 1_000_000
SESS_CAP_US = 72 * 3600 * 1_000_000

#: DuckDB CTEs of the capped sessionization, shared by the batch and the
#: streaming oracle: per-user gap islands ``isl`` (events as u, ts) and
#: the recursive session ``anchors`` of each island.
SESS_ANCHORS_DUCK = f"""base AS (
        SELECT user_id AS u, EPOCH_US(ts) AS ts FROM events
    ),
    isl AS (
        SELECT u, ts,
               SUM(CASE WHEN prev IS NULL OR ts - prev > {SESS_GAP_US}
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY u ORDER BY ts) AS island
        FROM (SELECT u, ts,
                     LAG(ts) OVER (PARTITION BY u ORDER BY ts) AS prev
              FROM base)
    ),
    anchors AS (
        SELECT u, island, MIN(ts) AS anchor FROM isl GROUP BY u, island
        UNION ALL
        SELECT a.u, a.island,
               (SELECT MIN(e.ts) FROM isl e
                WHERE e.u = a.u AND e.island = a.island
                  AND e.ts > a.anchor + {SESS_CAP_US}) AS anchor
        FROM anchors a
        WHERE EXISTS (SELECT 1 FROM isl e
                      WHERE e.u = a.u AND e.island = a.island
                        AND e.ts > a.anchor + {SESS_CAP_US})
    )"""




def sessionize_capped(
    ev: DataFrame,
    user_col: str = "u",
    ts_col: str = "ts",
    gap_us: int = SESS_GAP_US,
    cap_us: int = SESS_CAP_US,
) -> DataFrame:
    """(user_id, island, sub, n_events, start_us, end_us) capped sessions
    over an epoch-µs event stream — shared by the oracle-checked
    ``ts_sessionize_capped`` and ``Engine.sessionize``. Two tiers:
    inactivity islands (lag + running sum), then cap anchors via an
    ordered fold over each island's timestamp array (bounded per user
    burst by the gap rule)."""
    w = Window.partitionBy(user_col).orderBy(ts_col)
    prev = F.lag(ts_col).over(w)
    isl = ev.withColumn(
        "island",
        F.sum(
            F.when(
                prev.isNull() | (F.col(ts_col) - prev > gap_us), 1
            ).otherwise(0)
        ).over(w),
    )
    grouped = isl.groupBy(user_col, "island").agg(
        F.sort_array(F.collect_list(ts_col)).alias("arr")
    )
    anchors = F.aggregate(
        F.col("arr"),
        F.slice(F.col("arr"), 1, 1),
        lambda acc, x: F.when(
            x > F.element_at(acc, -1) + F.lit(cap_us),
            F.concat(acc, F.array(x)),
        ).otherwise(acc),
    )
    exploded = grouped.withColumn("anchors", anchors).select(
        user_col, "island", "anchors", F.explode("arr").alias("__ts")
    )
    sub = F.size(
        F.filter(F.col("anchors"), lambda a: a <= F.col("__ts"))
    ).cast("bigint")
    return (
        exploded.withColumn("sub", sub)
        .groupBy(F.col(user_col).alias("user_id"), "island", "sub")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("__ts").alias("start_us"),
            F.max("__ts").alias("end_us"),
        )
    )


@register(
    "ts_sessionize_capped",
    oracle=f"""
    WITH RECURSIVE {SESS_ANCHORS_DUCK},
    assigned AS (
        SELECT i.u, i.island, i.ts,
               (SELECT COUNT(*) FROM anchors a
                WHERE a.u = i.u AND a.island = i.island
                  AND a.anchor <= i.ts) AS sub
        FROM isl i
    )
    SELECT u AS user_id, CAST(island AS BIGINT) AS island, sub,
           COUNT(*) AS n_events, MIN(ts) AS start_us, MAX(ts) AS end_us
    FROM assigned GROUP BY u, island, sub
    """,
)
def ts_sessionize_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS — sessionization with BOTH an inactivity gap (24 h) and a maximum
    session duration (72 h) — real telemetry session semantics (gap-only
    sessions stretch unboundedly under steady activity; the cap is what
    bounds state, and it's exactly the part plain gaps-and-islands SQL
    cannot express, because each split anchor depends sequentially on the
    previous one).

    Two tiers: inactivity islands via lag + running sum (one window), then
    within each island the cap anchors via an ordered higher-order-function
    fold over the island's (bounded: one user's burst) timestamp array —
    anchor list grows only when an event exceeds the last anchor + cap;
    each event's sub-session is the count of anchors ≤ its timestamp. The
    DuckDB twin derives the SAME anchors with a recursive CTE (min-ts >
    anchor + cap per step), making an inherently sequential recurrence
    oracle-checked. All arithmetic is integer epoch-microseconds.

    Scale: one shuffle by user for the window, one by (user, island) for
    the fold; state per group is one island's timestamps — bounded by the
    gap rule itself (a 100 TB corpus has more users, not bigger islands)."""
    e = load(spark, sf_dir, "events")
    ev = e.select(F.col("user_id").alias("u"), ts_us(e).alias("ts"))
    return sessionize_capped(ev)


@register(
    "ts_gap_fill_interpolate",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events WHERE value > 250
        GROUP BY event_type, CAST(ts AS DATE)
    ),
    span AS (
        SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
        FROM daily GROUP BY event_type
    ),
    grid AS (
        SELECT event_type,
               CAST(UNNEST(generate_series(CAST(d0 AS TIMESTAMP),
                                           CAST(d1 AS TIMESTAMP),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM span
    ),
    g AS (
        SELECT grid.event_type, grid.day, daily.n,
               LAST_VALUE(daily.n IGNORE NULLS) OVER w_prev AS prev_n,
               LAST_VALUE(CASE WHEN daily.n IS NOT NULL THEN grid.day END
                          IGNORE NULLS) OVER w_prev AS prev_day,
               FIRST_VALUE(daily.n IGNORE NULLS) OVER w_next AS next_n,
               FIRST_VALUE(CASE WHEN daily.n IS NOT NULL THEN grid.day END
                           IGNORE NULLS) OVER w_next AS next_day
        FROM grid LEFT JOIN daily
          ON daily.event_type = grid.event_type AND daily.day = grid.day
        WINDOW
          w_prev AS (PARTITION BY grid.event_type ORDER BY grid.day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          w_next AS (PARTITION BY grid.event_type ORDER BY grid.day
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, day,
           (n IS NOT NULL) AS observed,
           ROUND(CASE WHEN n IS NOT NULL THEN CAST(n AS DOUBLE)
                      ELSE prev_n + (next_n - prev_n)
                           * DATEDIFF('day', prev_day, day) * 1.0
                           / DATEDIFF('day', prev_day, next_day)
                 END, 6) AS filled
    FROM g
    """,
)
def ts_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS — calendar gap-fill with LINEAR interpolation (the other half of
    ts_resample_ffill: forward-fill repeats stale state, interpolation
    estimates through the gap — what dashboards and feature pipelines want
    for additive series). The series is deliberately sparse (days with
    high-value events) so gaps genuinely occur; the day grid is generated
    per type from its own [min, max] span, so endpoints are always
    observed and every gap has both neighbors.

    Determinism: neighbor values/days come from IGNORE NULLS
    first/last_value over row frames (exact), and the interpolation is
    integer day-arithmetic followed by one double divide + ROUND — a
    fixed IEEE sequence identical on both engines.

    Scale: the grid is (types × days) rows — generated from a
    type-cardinality aggregate, never from the raw events; two window
    passes over that tiny grid; the only full-data work is the daily
    aggregation, which combines map-side."""
    e = load(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("value") > 250)
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    span = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "event_type",
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("interval 1 day"))
        ).alias("day"),
    )
    g = grid.join(daily, ["event_type", "day"], "left")
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("n").isNotNull(), F.col("day"))
    g = g.select(
        "event_type",
        "day",
        "n",
        F.last("n", ignorenulls=True).over(w_prev).alias("prev_n"),
        F.last(obs_day, ignorenulls=True).over(w_prev).alias("prev_day"),
        F.first("n", ignorenulls=True).over(w_next).alias("next_n"),
        F.first(obs_day, ignorenulls=True).over(w_next).alias("next_day"),
    )
    interp = F.col("prev_n") + (F.col("next_n") - F.col("prev_n")) * F.datediff(
        F.col("day"), F.col("prev_day")
    ) * 1.0 / F.datediff(F.col("next_day"), F.col("prev_day"))
    return g.select(
        "event_type",
        "day",
        F.col("n").isNotNull().alias("observed"),
        F.round(
            F.when(F.col("n").isNotNull(), F.col("n").cast("double")).otherwise(
                interp
            ),
            6,
        ).alias("filled"),
    )


@register(
    "join_scd2_pointintime",
    oracle="""
    WITH dim AS (
        SELECT user_id,
               EPOCH_US(ts) AS vf,
               LEAD(EPOCH_US(ts)) OVER (PARTITION BY user_id
                                        ORDER BY EPOCH_US(ts), event_id) AS vt,
               value
        FROM events WHERE event_type = 'purchase'
    ),
    facts AS (
        SELECT event_id, user_id, EPOCH_US(ts) AS ts_us
        FROM events WHERE event_type = 'click'
    )
    SELECT f.event_id, f.user_id, f.ts_us,
           d.value AS version_value, d.vf AS valid_from_us
    FROM facts f
    LEFT JOIN dim d
      ON d.user_id = f.user_id
     AND f.ts_us >= d.vf
     AND (d.vt IS NULL OR f.ts_us < d.vt)
    """,
)
def join_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS6b — SCD2 point-in-time lookup: each fact row (clicks) joined to
    the dimension VERSION (per-user purchase state) that was valid at the
    fact's event time — the canonical warehouse history join, composing
    the scd2_intervals build with the half-open interval probe
    ``ts ∈ [valid_from, valid_to)``. LEFT join keeps facts older than any
    version (NULL attributes — the honest answer, never accidental
    forward-leakage of later state). Duplicate version timestamps produce
    an EMPTY [t, t) interval for the superseded row, so every fact matches
    at most one version deterministically.

    Plan: equi-join on the key with the interval predicate post-probe —
    hash/sort-merge, never a nested loop. When the dimension's version
    count per key is large and facts are time-bunched, the as-of
    carry-forward (join_asof_event) computes the same lookup with ONE
    shuffle instead of a join — both shapes are in the registry because
    warehouses need the interval form whenever valid_to is edited
    retroactively (late corrections), which the carry-forward can't see."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("vf", "event_id")
    dim = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", ts_us(e).alias("vf"), "value", "event_id")
        .select(
            F.col("user_id").alias("d_user"),
            "vf",
            F.lead("vf").over(w).alias("vt"),
            F.col("value").alias("version_value"),
        )
    )
    facts = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", ts_us(e).alias("ts_us")
    )
    cond = (
        (F.col("d_user") == F.col("user_id"))
        & (F.col("ts_us") >= F.col("vf"))
        & (F.col("vt").isNull() | (F.col("ts_us") < F.col("vt")))
    )
    return facts.join(dim, cond, "left").select(
        "event_id",
        "user_id",
        "ts_us",
        "version_value",
        F.col("vf").alias("valid_from_us"),
    )


@register(
    "ts_seasonal_baseline",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               DAYOFWEEK(CAST(ts AS DATE)) AS dow,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2, 3
    ),
    pred AS (
        SELECT event_type, day, n,
               SUM(n) OVER w AS hist_sum,
               COUNT(*) OVER w AS hist_n
        FROM daily
        WINDOW w AS (PARTITION BY event_type, dow ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    scored AS (
        SELECT event_type, day, n,
               ROUND(hist_sum * 1.0 / hist_n, 6) AS forecast,
               ROUND(ABS(n - hist_sum * 1.0 / hist_n), 6) AS abs_err
        FROM pred WHERE hist_n > 0
    )
    SELECT event_type,
           COUNT(*) AS n_scored,
           ROUND(SUM(CAST(ROUND(ABS(n - CAST(forecast AS DOUBLE)), 9)
                          AS DECIMAL(18,9))) / COUNT(*), 6) AS mae
    FROM scored GROUP BY event_type
    """,
)
def ts_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS — seasonal-naive forecasting BACKTEST: predict each day's volume
    as the expanding mean of the same weekday's history, score with MAE
    per type — the baseline every real forecasting model must beat, and
    the query that runs it honestly (the expanding window ends at
    1 PRECEDING, so no day ever sees itself or the future — the leakage
    rule backtests live or die on).

    Exactness: daily counts are integers; the expanding mean is an exact
    rational rendered once through a fixed IEEE divide + ROUND; MAE terms
    are rounded to 9 and summed as DECIMAL(18,9) (the dsum rule) before
    the final per-type division.

    Scale: one daily aggregation, one (type, weekday)-keyed window over
    the (types × days) grid, one final roll-up — the raw scan dominates
    at any corpus size."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.dayofweek(F.col("ts").cast("date")).alias("dow"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type", "dow")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pred = daily.select(
        "event_type",
        "day",
        "n",
        F.sum("n").over(w).alias("hist_sum"),
        F.count(F.lit(1)).over(w).alias("hist_n"),
    ).filter(F.col("hist_n") > 0)
    forecast = F.round(F.col("hist_sum") * 1.0 / F.col("hist_n"), 6)
    err = F.round(F.abs(F.col("n") - forecast.cast("double")), 9).cast(
        "decimal(18,9)"
    )
    return (
        pred.withColumn("err", err)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            # cast the exact decimal sum to double BEFORE the divide —
            # DuckDB's SUM(decimal)/COUNT renders DOUBLE, and a decimal
            # `mae` here would hash-fail the driver's render-sensitive
            # comparison (same class as the round-5 HUGEINT bug; caught by
            # the aligned comparator, tools/check_oracle.py)
            F.round(
                F.sum("err").cast("double") / F.count(F.lit(1)), 6
            ).alias("mae"),
        )
    )


@register(
    "ts_wow_growth",
    oracle="""
    WITH weekly AS (
        SELECT event_type, DATE_TRUNC('week', CAST(ts AS DATE)) AS wk,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, wk, n,
           LAG(n) OVER w AS prev_n,
           ROUND((n - LAG(n) OVER w) * 1.0 / LAG(n) OVER w, 6) AS wow_growth
    FROM weekly
    WINDOW w AS (PARTITION BY event_type ORDER BY wk)
    """,
)
def ts_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS — week-over-week growth per event type: the KPI delta every
    operations dashboard leads with, as weekly truncation + one lag
    window + an exact-integer-ratio growth rate (counts are integers, the
    division is one IEEE op + ROUND). First week of each series keeps
    NULL growth — the honest value, not 0. Week boundaries come from
    DATE_TRUNC('week'), which both engines define as Monday-start ISO
    weeks over DATE inputs.

    Scale: the weekly grid is (types × weeks) rows; everything after the
    map-side-combined weekly count is negligible at any corpus size."""
    e = load(spark, sf_dir, "events")
    weekly = e.groupBy(
        "event_type",
        F.date_trunc("week", F.col("ts").cast("date")).cast("date").alias("wk"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("wk")
    prev = F.lag("n").over(w)
    return weekly.select(
        "event_type",
        "wk",
        "n",
        prev.alias("prev_n"),
        F.round((F.col("n") - prev) * 1.0 / prev, 6).alias("wow_growth"),
    )


@register(
    "ts_cumulative_uniques",
    oracle="""
    WITH first_seen AS (
        SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY event_type, user_id
    ),
    daily_new AS (
        SELECT event_type, first_day AS day, COUNT(*) AS n_new
        FROM first_seen GROUP BY event_type, first_day
    )
    SELECT event_type, day, n_new,
           CAST(SUM(n_new) OVER (PARTITION BY event_type ORDER BY day)
                AS BIGINT) AS cum_users
    FROM daily_new
    """,
)
def ts_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS — cumulative distinct users over time (the audience-growth
    curve): naïvely a COUNT(DISTINCT) over an expanding window — which
    engines either forbid (Spark) or evaluate by re-scanning the frame —
    but a user's contribution to the curve is fully determined by their
    FIRST day, so the exact curve is min-day per (type, user) → new-users
    per day → one running integer sum. This reformulation is the
    difference between O(days × users) window state and two shuffles at
    100 TB, and it's exact, not a sketch.

    Scale: one (type, user)-keyed min aggregate (map-side combining), a
    (type, day) roll-up, and a running sum over the tiny daily grid."""
    e = load(spark, sf_dir, "events")
    first_seen = e.groupBy("event_type", "user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    daily_new = first_seen.groupBy(
        "event_type", F.col("first_day").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_new"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily_new.select(
        "event_type",
        "day",
        "n_new",
        F.sum("n_new").over(w).alias("cum_users"),
    )


@register(
    "ts_attribution_linear",
    oracle="""
    WITH purchases AS (
        SELECT event_id AS p_id, user_id, EPOCH_US(ts) AS p_ts
        FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
        SELECT event_id AS c_id, user_id, EPOCH_US(ts) AS c_ts
        FROM events WHERE event_type = 'click'
    ),
    touches AS (
        SELECT p.p_id, p.user_id, c.c_id
        FROM purchases p JOIN clicks c
          ON c.user_id = p.user_id
         AND c.c_ts <= p.p_ts
         AND c.c_ts > p.p_ts - 604800000000
    ),
    credits AS (
        SELECT p_id, user_id, c_id,
               CAST(ROUND(1.0 / COUNT(*) OVER (PARTITION BY p_id), 9)
                    AS DECIMAL(18,9)) AS credit
        FROM touches
    )
    SELECT user_id,
           COUNT(DISTINCT p_id) AS n_attributed_purchases,
           COUNT(*) AS n_touches,
           ROUND(CAST(SUM(credit) AS DOUBLE), 6) AS total_credit
    FROM credits GROUP BY user_id
    """,
)
def ts_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS — LINEAR multi-touch attribution: every click in the 7 days
    before a purchase shares the conversion credit equally (1/n per
    touch) — the standard middle ground between first- and last-touch
    (which the as-of family already computes). The 7-day lookback bounds
    the join: equi on user + a time band, so it's a hash join with a
    post-probe range predicate, never a full history cross product.

    Exactness: credits are 1/n rationals rounded to 9 and summed as
    DECIMAL(18,9) (order-independent); a purchase's credits sum to
    round(1/n,9)·n ≈ 1 exactly-as-rounded on both engines.

    At 100 TB the week-band join is the whole cost; partitioning both
    sides by user and bucketing time (the interval-overlap recipe) keeps
    probe state bounded."""
    e = load(spark, sf_dir, "events")
    us = ts_us(e)
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", us.alias("p_ts")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        us.alias("c_ts"),
    )
    touches = purchases.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - 604_800_000_000),
    ).select("p_id", "user_id", "c_id")
    w = Window.partitionBy("p_id")
    credits = touches.withColumn(
        "credit",
        F.round(F.lit(1.0) / F.count(F.lit(1)).over(w), 9).cast(
            "decimal(18,9)"
        ),
    )
    return credits.groupBy("user_id").agg(
        F.countDistinct("p_id").alias("n_attributed_purchases"),
        F.count(F.lit(1)).alias("n_touches"),
        F.round(F.sum("credit").cast("double"), 6).alias("total_credit"),
    )


@register(
    "ts_changepoint_shift",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    sided AS (
        SELECT event_type, day,
               SUM(n) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
                   AS prev_sum,
               COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                              ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
                   AS prev_n,
               SUM(n) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING)
                   AS next_sum,
               COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                              ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING)
                   AS next_n
        FROM daily
    ),
    full_windows AS (
        SELECT event_type, day,
               ABS(7 * next_sum - 7 * prev_sum) AS shift7
        FROM sided WHERE prev_n = 7 AND next_n = 7
    )
    SELECT event_type, day AS changepoint_day,
           ROUND(shift7 / 49.0, 6) AS mean_shift
    FROM (
        SELECT event_type, day, shift7,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY shift7 DESC, day) AS rn
        FROM full_windows
    ) WHERE rn = 1
    """,
)
def ts_changepoint_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS — change-point detection by two-sided window contrast: for every
    day with a full week of history on each side, compare the 7-day mean
    before vs after; the day with the largest absolute shift is the
    series' level-change point (the piecewise-constant CUSUM shape,
    deterministic and exact: counts are integers, means are
    cross-multiplied — ``|7·Σnext − 7·Σprev|`` — so the ARGMAX compares
    exact integers with a date tiebreak, and only the reported mean shift
    touches floats, once, rounded).

    Scale: one daily aggregation, two frame windows and one ranking
    window over the (types × days) grid — the detection pass costs
    nothing next to the scan at any corpus size."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    prev_f = w.rowsBetween(-7, -1)
    next_f = w.rowsBetween(Window.currentRow, 6)
    sided = daily.select(
        "event_type",
        "day",
        F.sum("n").over(prev_f).alias("prev_sum"),
        F.count(F.lit(1)).over(prev_f).alias("prev_n"),
        F.sum("n").over(next_f).alias("next_sum"),
        F.count(F.lit(1)).over(next_f).alias("next_n"),
    ).filter((F.col("prev_n") == 7) & (F.col("next_n") == 7))
    shift7 = F.abs(7 * F.col("next_sum") - 7 * F.col("prev_sum"))
    ranked = sided.withColumn("shift7", shift7).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.desc("shift7"), F.asc("day")
            )
        ),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "event_type",
        F.col("day").alias("changepoint_day"),
        F.round(F.col("shift7") / 49.0, 6).alias("mean_shift"),
    )


@register(
    "ts_active_users_dau_wau",
    oracle="""
    WITH user_days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    grid AS (SELECT DISTINCT day FROM user_days)
    SELECT g.day,
           (SELECT COUNT(*) FROM user_days u WHERE u.day = g.day) AS dau,
           (SELECT COUNT(DISTINCT u.user_id) FROM user_days u
            WHERE u.day BETWEEN g.day - 6 AND g.day) AS wau
    FROM grid g
    """,
)
def ts_active_users_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS — daily and trailing-7-day active users (DAU/WAU), EXACT: the
    engagement curve every product review starts with. DAU is a per-day
    distinct count; WAU is a distinct count over a SLIDING range — the
    op engines can't window directly — computed here by banding the
    distinct (user, day) pairs against the day grid (each pair joins to
    ≤7 grid days) and distinct-counting per grid day. Exact, not an HLL
    sketch; the (user, day) projection — not raw events — is what keeps
    the band join linear in active-pairs × 7.

    At 100 TB the same plan holds because user_days collapses events by
    ~events-per-user-per-day first; if the 7× replication ever dominates,
    the sliding-bitmap variant (agg_bitmap_exact_distinct's words, OR'd
    over a 7-day frame) is the escalation path."""
    e = load(spark, sf_dir, "events")
    user_days = e.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    grid = user_days.select("day").distinct()
    banded = grid.alias("g").join(
        user_days.alias("u"),
        (F.col("u.day") >= F.date_sub(F.col("g.day"), 6))
        & (F.col("u.day") <= F.col("g.day")),
    )
    wau = banded.groupBy(F.col("g.day").alias("day")).agg(
        F.countDistinct("u.user_id").alias("wau")
    )
    dau = user_days.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return dau.join(wau, "day").select("day", "dau", "wau")


@register(
    "ts_hour_profile",
    oracle="""
    WITH hourly AS (
        SELECT event_type, EXTRACT(hour FROM ts) AS hr, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT event_type, SUM(n) AS t FROM hourly GROUP BY event_type),
    mx AS (
        SELECT event_type, hr, n,
               MAX(n) OVER (PARTITION BY event_type) AS mx_n
        FROM hourly
    ),
    pk AS (
        SELECT event_type, hr, n, mx_n,
               MIN(CASE WHEN n = mx_n THEN hr END)
                   OVER (PARTITION BY event_type) AS peak_hr
        FROM mx
    )
    SELECT p.event_type, p.hr, p.n,
           ROUND(p.n * 1.0 / t.t, 6) AS share,
           (p.n = p.mx_n AND p.hr = p.peak_hr) AS is_peak_hour
    FROM pk p JOIN tot t ON t.event_type = p.event_type
    """,
)
def ts_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS — hour-of-day activity profile per event type: the diurnal
    shape (counts + shares per hour) with the peak hour flagged — what
    capacity planning reads to place maintenance windows and what
    anomaly baselines condition on. The peak flag is a deterministic
    argmax spelled windowed (equal to the max AND the earliest such hour
    — the tie rule made explicit rather than left to engine whim).

    One map-side-combined hourly aggregate; windows run over ≤24 rows
    per type. Hours come from UTC timestamps on both engines (the
    session pins UTC — a timezone-dependent profile would be a different
    query)."""
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.hour("ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type")
    mx = F.max("n").over(w)
    first_peak_hr = F.min(F.when(F.col("n") == mx, F.col("hr"))).over(w)
    # Type totals ride the same window the peak columns already use
    # instead of a groupBy branch broadcast-joined back — the former
    # shape planned the scan→hourly-aggregate subtree twice (r15; exact
    # integer sum either way).
    return hourly.withColumn("t", F.sum("n").over(w)).select(
        "event_type",
        "hr",
        "n",
        F.round(F.col("n") * 1.0 / F.col("t"), 6).alias("share"),
        ((F.col("n") == mx) & (F.col("hr") == first_peak_hr)).alias(
            "is_peak_hour"
        ),
    )


def global_ntile(
    df: DataFrame,
    metric: str,
    k: int,
    tiebreak: str,
    out_col: str,
    descending: bool = False,
    n_buckets: int = 32,
    rank_col: str | None = None,
) -> DataFrame:
    """Exact global ``NTILE(k)`` over (metric, tiebreak) WITHOUT a global
    window — the distributed two-phase rank every 100 TB deployment needs
    (an unpartitioned NTILE plans ``Exchange SinglePartition`` → one task
    sorts the world; the plan audit forbids it).

    Same pattern as ``export_global_rownum`` / ``curation_token_budget_select``,
    generalized to value-ordered rank: (1) range-bucket rows on a uniform
    [min, max] grid — value-disjoint, so bucket order + within-bucket order
    == total order, and deterministic (exact min/max aggregate, no sketch);
    (2) per-bucket ``row_number`` (key-partitioned window); (3) broadcast
    the ≤``n_buckets`` bucket counts as exclusive prefix offsets → exact
    global rank; (4) apply the closed-form ISO NTILE remainder rule
    (first ``n mod k`` tiles get the extra row) to the rank. Driver traffic
    is O(n_buckets) scalars; every per-row stage is key-partitioned.

    Ties in ``metric`` are broken by ``tiebreak`` (ascending) — the same
    total order the DuckDB oracle's ``NTILE(k) OVER (ORDER BY …)`` uses,
    so tile assignment is hash-identical.

    ``rank_col``: when set, the exact global ROW_NUMBER itself (1-based,
    same total order) is kept under that name — the rank-consumers'
    entry point (Gini, systematic sampling) so the two-phase machinery
    lives once.

    Single-spec wrapper over :func:`global_ntiles` (ADVICE r9: multi-
    metric callers like ``ts_rfm_segments`` fuse their driver round-trips
    there instead of serializing 2 collects per metric)."""
    return global_ntiles(
        df,
        [(metric, k, tiebreak, out_col, descending)],
        n_buckets=n_buckets,
        rank_cols={out_col: rank_col} if rank_col is not None else None,
    )


def global_ntiles(
    df: DataFrame,
    specs: list[tuple[str, int, str, str, bool]],
    n_buckets: int = 32,
    rank_cols: dict[str, str] | None = None,
) -> DataFrame:
    """Exact global NTILE for SEVERAL metrics with exactly TWO driver
    round-trips total (ADVICE r9: the single-metric form collected
    min/max/count and then bucket counts PER metric — 6 serialized
    blocking collects for RFM's three quantile columns):

    1. ONE combined aggregate computes every metric's min/max plus the
       row count and per-metric NULL counts;
    2. ONE ``GROUPING SETS ((__bkt0), (__bkt1), …)`` aggregate computes
       every metric's per-bucket counts in a single shuffle — each
       grouping set is that metric's marginal histogram, disentangled
       driver-side via which bucket column is non-null (bucket ids are
       never NULL for a non-null metric, so set membership is
       unambiguous).

    The per-metric rank windows stay separate (each partitions by its
    own bucket key — that is inherent to ranking on three different
    orders), but they are NON-BLOCKING plan stages, not driver
    round-trips. ``specs``: (metric, k, tiebreak, out_col, descending).

    NULLs (ADVICE r9): a NULL metric would get a NULL bucket and be
    silently DROPPED by the offsets join while the oracle's single-
    sequence window would rank it — so NULL metrics fail LOUDLY here,
    riding the combined aggregate this function already collects."""
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, (metric, _k, _tb, _out, _desc) in enumerate(specs):
        aggs += [
            F.min(metric).alias(f"mn{i}"),
            F.max(metric).alias(f"mx{i}"),
            F.count(F.when(F.col(metric).isNull(), 1)).alias(f"nn{i}"),
        ]
    mm = df.agg(*aggs).collect()[0]
    n = int(mm.n)
    null_metrics = [
        specs[i][0] for i in range(len(specs)) if mm[f"nn{i}"]
    ]
    if null_metrics:
        raise ValueError(
            f"global_ntiles: metric column(s) {null_metrics} contain NULL "
            "values, which the bucketed prefix-sum would silently drop; "
            "filter or impute NULLs before ranking"
        )
    bucketed = df
    bkt_cols = []
    for i, (metric, _k, _tb, _out, descending) in enumerate(specs):
        mn, mx = float(mm[f"mn{i}"]), float(mm[f"mx{i}"])
        span = mx - mn
        if span <= 0:
            bucket = F.lit(0)
        elif descending:
            bucket = F.least(
                F.floor(
                    (F.lit(mx) - F.col(metric)) / span * n_buckets
                ).cast("int"),
                F.lit(n_buckets - 1),
            )
        else:
            bucket = F.least(
                F.floor(
                    (F.col(metric) - F.lit(mn)) / span * n_buckets
                ).cast("int"),
                F.lit(n_buckets - 1),
            )
        bkt = f"__bkt{i}"
        bucketed = bucketed.withColumn(bkt, bucket)
        bkt_cols.append(bkt)
    if len(bkt_cols) > 1:
        counts_rows = (
            bucketed.groupingSets(
                [[c] for c in bkt_cols], *[F.col(c) for c in bkt_cols]
            )
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
    else:
        counts_rows = (
            bucketed.groupBy(bkt_cols[0])
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
    out = bucketed
    for i, (metric, k, tiebreak, out_col, descending) in enumerate(specs):
        bkt = bkt_cols[i]
        counts = {
            r[bkt]: r["c"] for r in counts_rows if r[bkt] is not None
        }
        acc, offset_rows = 0, []
        for b in sorted(counts):
            offset_rows.append((b, acc))
            acc += counts[b]
        offsets = F.broadcast(
            df.sparkSession.createDataFrame(
                offset_rows, f"{bkt} int, __off long"
            )
        )
        order = (
            F.col(metric).desc() if descending else F.col(metric).asc(),
            F.col(tiebreak).asc(),
        )
        w = Window.partitionBy(bkt).orderBy(*order)
        rn = (F.row_number().over(w) + F.col("__off")).alias("__rn")
        q, r = divmod(n, k)
        # ISO NTILE(k) of global rank rn: first r tiles hold q+1 rows.
        tile = F.when(
            F.col("__rn") <= r * (q + 1),
            F.expr(f"(__rn + {q}) div {q + 1}"),
        ).otherwise(
            F.lit(r)
            + F.expr(
                f"(__rn - {r * (q + 1)} + {max(q, 1) - 1}) div {max(q, 1)}"
            )
        )
        out = (
            out.join(offsets, bkt)
            .withColumn("__rn", rn)
            .withColumn(out_col, tile.cast("int"))
        )
        rank_col = (rank_cols or {}).get(out_col)
        if rank_col is not None:
            out = out.withColumn(rank_col, F.col("__rn"))
        out = out.drop("__off", "__rn")
    return out.drop(*bkt_cols)


@register(
    "ts_rfm_segments",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               CAST(DATE_DIFF('day', CAST(MAX(o_orderdate) AS DATE),
                    (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders))
                    AS BIGINT) AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               ROUND(SUM(o_totalprice), 2) AS monetary
        FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, recency_days, frequency, monetary,
           NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS r_q,
           NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_q,
           NTILE(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_q
    FROM cust
    """,
)
def ts_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-rfm — RFM customer segmentation: per customer, Recency (days
    since last order, vs the corpus max date), Frequency (order count),
    Monetary (lifetime spend), each scored into exact global quintiles
    (quintile 1 = best: most recent / most frequent / highest spend).
    The classic lifecycle-marketing segmentation, and in a training-data
    pipeline the same shape scores SOURCES by freshness / volume /
    quality-mass before mixture allocation.

    The oracle ranks with three global ``NTILE(5)`` windows — the
    textbook form, and exactly what does NOT scale (one task sorts every
    customer). The engine side computes the IDENTICAL tile assignment
    with :func:`global_ntile`: range-bucketed two-phase rank + the
    closed-form ISO remainder rule, all stages key-partitioned, driver
    traffic O(buckets). Monetary ties are broken at 2dp-rounded values
    on BOTH engines (same expression ranked), recency/frequency are
    integer-exact."""
    orders = load(spark, sf_dir, "orders")
    max_date = F.broadcast(
        orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("__maxd"))
    )
    cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("__last"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        .crossJoin(max_date)
        .select(
            "o_custkey",
            F.datediff("__maxd", "__last").cast("bigint").alias("recency_days"),
            "frequency",
            "monetary",
        )
        .localCheckpoint(eager=True)  # consumed by 3 independent rank passes
    )
    # one fused global_ntiles call: 2 driver round-trips for all three
    # metrics (ADVICE r9), vs 6 for three sequential global_ntile calls
    out = global_ntiles(
        cust,
        [
            ("recency_days", 5, "o_custkey", "r_q", False),
            ("frequency", 5, "o_custkey", "f_q", True),
            ("monetary", 5, "o_custkey", "m_q", True),
        ],
    )
    return out.select(
        "o_custkey", "recency_days", "frequency", "monetary", "r_q", "f_q", "m_q"
    )


@register(
    "ts_seasonality_decompose",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               DAYOFWEEK(CAST(ts AS DATE)) AS dow,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    g AS (SELECT AVG(CAST(n AS DOUBLE)) AS grand FROM daily),
    dw AS (
        SELECT dow, AVG(CAST(n AS DOUBLE)) AS dow_mean
        FROM daily GROUP BY dow
    )
    SELECT d.day, d.n,
           ROUND(g.grand, 6) AS grand_mean,
           ROUND(dw.dow_mean - g.grand, 6) AS dow_effect,
           ROUND(d.n - dw.dow_mean, 6) AS residual
    FROM daily d
    JOIN dw ON dw.dow = d.dow
    CROSS JOIN g
    """,
)
def ts_seasonality_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-season — additive seasonal decomposition of the daily event
    volume: observed = grand mean + day-of-week effect + residual. The
    day-of-week profile is the seasonality every ops dashboard needs
    removed before eyeballing a trend, and the residual column is the
    deseasonalized series that anomaly detectors (``ts_anomaly_zscore``,
    ``dq_anomaly_mad``) should really consume — a Sunday dip is not an
    incident.

    Exactness: daily counts are integers; the three averages divide
    those integers identically on both engines and every emitted float
    is rounded at 6dp. The decomposition identity
    ``n == grand_mean + dow_effect + residual`` holds exactly in the
    unrounded algebra (tests pin it at 1e-6 on the rounded output).

    Scale: one day-grain aggregate (map-side combined), then all
    remaining stages operate on day-cardinality rows; the 7-row
    day-of-week profile and 1-row grand mean are broadcast."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(
            F.col("ts").cast("date").alias("day"),
            F.dayofweek(F.col("ts").cast("date")).alias("dow"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)  # consumed 3x: grand, dow means, join
    )
    g = F.broadcast(
        daily.agg(F.avg(F.col("n").cast("double")).alias("grand"))
    )
    dw = F.broadcast(
        daily.groupBy("dow").agg(
            F.avg(F.col("n").cast("double")).alias("dow_mean")
        )
    )
    return (
        daily.join(dw, "dow")
        .crossJoin(g)
        .select(
            "day",
            "n",
            F.round("grand", 6).alias("grand_mean"),
            F.round(F.col("dow_mean") - F.col("grand"), 6).alias("dow_effect"),
            F.round(F.col("n") - F.col("dow_mean"), 6).alias("residual"),
        )
    )


# ---------------------------------------------------------------------------
# TS — sweep-line max concurrency

#: Inactivity gap defining a "visit" for the concurrency sweep: 6 hours.
#: Shorter than the 24 h sessionizer gap so days genuinely overlap in
#: multi-visit patterns, long enough that visits span multiple events.
CONC_GAP_US = 6 * 3600 * 1_000_000


@register(
    "ts_max_concurrency",
    oracle=f"""
    WITH e AS (SELECT user_id, EPOCH_US(ts) AS ts FROM events),
    isl AS (
        SELECT user_id, ts,
               SUM(CASE WHEN prev IS NULL OR ts - prev > {CONC_GAP_US}
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts) AS island
        FROM (SELECT user_id, ts,
                     LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
              FROM e)
    ),
    sess AS (
        SELECT user_id, island, MIN(ts) AS s, MAX(ts) AS e
        FROM isl GROUP BY 1, 2
    ),
    bnd AS (
        SELECT s AS ts_us, 1 AS d FROM sess
        UNION ALL
        SELECT e + 1, -1 FROM sess
    ),
    net AS (SELECT ts_us, SUM(d) AS delta FROM bnd GROUP BY ts_us),
    run AS (
        SELECT ts_us,
               SUM(delta) OVER (ORDER BY ts_us
                                ROWS UNBOUNDED PRECEDING) AS active
        FROM net
    )
    SELECT CAST(MAKE_TIMESTAMP(ts_us) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_boundaries,
           CAST(MAX(active) AS BIGINT) AS peak_concurrency
    FROM run GROUP BY 1
    """,
)
def ts_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS — peak concurrent user visits per day, exactly (the capacity-
    planning number: "how many sessions were open at once?"). A visit is
    a 6-hour-gap event island per user; concurrency at instant t counts
    visits with start ≤ t ≤ end; the sweep-line (+1 at start, −1 at
    end+1µs, running sum in boundary order) evaluates it exactly at
    every boundary, and the per-day peak is the max over that day's
    boundaries (days without boundaries have flat concurrency and are
    not emitted — nothing changed that day).

    The oracle's running sum is a single-sequence global window — one
    task sorts every boundary. The engine never does that: boundaries
    are netted per distinct µs (map-side combined), the running sum is
    split into a WITHIN-DAY partitioned window plus a cross-day CARRY
    (prefix sum of per-day net totals over the tiny day grid, computed
    as a broadcast band join exactly like ``ts_active_users_dau_wau``).
    peak(day) = carry(day) + max(within-day running). Exact integers
    end-to-end.

    Scale: one user-partitioned window (sessionize), one ts-keyed net
    aggregate, one day-keyed aggregate, one |days|² broadcast band join
    (|days| is the calendar, never the corpus). 100 TB-safe."""
    e = load(spark, sf_dir, "events")
    ev = e.select("user_id", ts_us(e).alias("ts"))
    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag("ts").over(w)
    isl = ev.withColumn(
        "island",
        F.sum(
            F.when(prev.isNull() | (F.col("ts") - prev > CONC_GAP_US), 1)
            .otherwise(0)
        ).over(w),
    )
    sess = isl.groupBy("user_id", "island").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    bnd = sess.select(
        F.col("s").alias("ts_us"), F.lit(1).alias("d")
    ).unionByName(
        sess.select((F.col("e") + 1).alias("ts_us"), F.lit(-1).alias("d"))
    )
    net = (
        bnd.groupBy("ts_us")
        .agg(F.sum("d").alias("delta"))
        .withColumn("day", F.timestamp_micros(F.col("ts_us")).cast("date"))
    )
    w_day = (
        Window.partitionBy("day")
        .orderBy("ts_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # The per-day frame is calendar-bounded; materialize it once — the
    # lazy form re-planned the whole corpus sessionize window through
    # the carry self-join's two sides plus the final join (3× = 6 scans
    # in one plan; r15, the consumed-3x localCheckpoint precedent).
    per_day = (
        net.withColumn("run", F.sum("delta").over(w_day))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_boundaries"),
            F.max("run").alias("mx"),
            F.sum("delta").alias("tot"),
        )
        .localCheckpoint(eager=True)
    )
    g1, g2 = per_day.alias("g1"), per_day.alias("g2")
    carry = (
        g1.join(F.broadcast(g2), F.col("g2.day") < F.col("g1.day"), "left")
        .groupBy(F.col("g1.day").alias("day"))
        .agg(F.coalesce(F.sum("g2.tot"), F.lit(0)).alias("carry"))
    )
    return per_day.join(carry, "day").select(
        "day",
        "n_boundaries",
        (F.col("carry") + F.col("mx")).alias("peak_concurrency"),
    )


@register(
    "ts_anomaly_seasonal_residual",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               DAYOFWEEK(CAST(ts AS DATE)) AS dow,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    dw AS (SELECT dow, AVG(CAST(n AS DOUBLE)) AS dow_mean
           FROM daily GROUP BY dow),
    resid AS (
        SELECT d.day, d.n, d.n - dw.dow_mean AS r
        FROM daily d JOIN dw ON dw.dow = d.dow
    ),
    med AS (SELECT MEDIAN(r) AS m FROM resid),
    mad AS (SELECT MEDIAN(ABS(r - (SELECT m FROM med))) AS mad FROM resid)
    SELECT day, n, ROUND(r, 6) AS residual,
           (ABS(r - (SELECT m FROM med))
             > 3 * 1.4826 * (SELECT mad FROM mad)) AS is_anomaly
    FROM resid
    """,
)
def ts_anomaly_seasonal_residual(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TS — seasonality-aware anomaly days: deseasonalize the daily event
    count by its day-of-week mean (the ``ts_seasonality_decompose``
    model), then flag days whose residual deviates from the residual
    median by > 3 robust sigmas (MAD × 1.4826) — the composition that
    makes ``dq_anomaly_mad``'s flat threshold weekly-pattern-proof (a
    normal Saturday dip is not an anomaly; the same count on a Tuesday
    is). Determinism: integer daily counts; the dow mean divides an
    exact integer sum; medians SELECT existing doubles (no reordered
    accumulation); one fixed IEEE comparison — identical in both
    engines.

    Scale: day-grid aggregates end-to-end (the corpus collapses at the
    first groupBy); the medians are 1-row aggregates over the tiny
    grid, broadcast back."""
    e = load(spark, sf_dir, "events")
    # The day grid is calendar-bounded; materialize it once — the lazy
    # form re-planned the corpus scan+daily aggregate through every
    # downstream branch (dw/resid/med/with_med/mad/final = 8 scans in
    # one plan; r15, the consumed-3x localCheckpoint precedent).
    daily = (
        e.groupBy(
            F.col("ts").cast("date").alias("day"),
            F.dayofweek(F.col("ts").cast("date")).alias("dow"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    dw = daily.groupBy("dow").agg(
        (F.sum("n") * 1.0 / F.count(F.lit(1))).alias("dow_mean")
    )
    resid = daily.join(F.broadcast(dw), "dow").select(
        "day", "n", (F.col("n") - F.col("dow_mean")).alias("r")
    )
    med = resid.agg(F.percentile("r", F.lit(0.5)).alias("m"))
    with_med = resid.crossJoin(F.broadcast(med))
    mad = with_med.agg(
        F.percentile(F.abs(F.col("r") - F.col("m")), F.lit(0.5)).alias("mad")
    )
    return (
        with_med.crossJoin(F.broadcast(mad))
        .select(
            "day",
            "n",
            F.round(F.col("r"), 6).alias("residual"),
            (
                F.abs(F.col("r") - F.col("m"))
                > 3 * 1.4826 * F.col("mad")
            ).alias("is_anomaly"),
        )
    )


# ---------------------------------------------------------------------------
# Holt linear (double-exponential) smoothing — exact fixed-point recursion

#: Micro-unit scale for the Holt state (level/trend ×1e6).
_HOLT_S = 1_000_000


def _holt_sdiv4(expr: str, op: str = "//") -> str:
    """Sign-safe truncating /4 in SQL (Spark `div` truncates toward zero,
    DuckDB `//` floors — they agree only via explicit sign handling; the
    division operator itself is dialect-specific: `//` for DuckDB,
    `div` for Spark SQL)."""
    return (
        f"CASE WHEN ({expr}) >= 0 THEN ({expr}) {op} 4"
        f" ELSE -((-({expr})) {op} 4) END"
    )


#: DuckDB per-(event_type, day) event count ``daily`` and its 1-based
#: day index ``idx`` (rn) — the day grid the recursive-CTE folds walk.
_DAILY_IDX_DUCK = """daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    idx AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY day) AS rn
        FROM daily
    )"""


def _day_grids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, g) — each event type's day-sorted array of (day, n)
    daily event counts, the input of the per-key folds."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "n"))).alias("g")
    )


def _holt_rows(folded: DataFrame, *extra: Column) -> DataFrame:
    """One row per (event_type, day) from a Holt fold's ``out`` array:
    day, n, level_micro, trend_micro, then ``extra`` columns of ``r``."""
    return folded.select(
        "event_type", F.explode("out").alias("r")
    ).select(
        "event_type",
        F.col("r.day").alias("day"),
        F.col("r.n").alias("n"),
        F.col("r.lvl").alias("level_micro"),
        F.col("r.trd").alias("trend_micro"),
        *extra,
    )


@register(
    "ts_holt_linear",
    oracle=f"""
    WITH RECURSIVE {_DAILY_IDX_DUCK},
    hw AS (
        SELECT event_type, rn, day, n,
               n * {_HOLT_S} AS lvl, CAST(0 AS BIGINT) AS trd
        FROM idx WHERE rn = 1
        UNION ALL
        SELECT i.event_type, i.rn, i.day, i.n,
               {_holt_sdiv4(f"i.n * {_HOLT_S} + 3 * (h.lvl + h.trd)")},
               {_holt_sdiv4(
                   "("
                   + _holt_sdiv4(f"i.n * {_HOLT_S} + 3 * (h.lvl + h.trd)")
                   + ") - h.lvl + 3 * h.trd"
               )}
        FROM idx i JOIN hw h
          ON h.event_type = i.event_type AND i.rn = h.rn + 1
    )
    SELECT event_type, day, n,
           CAST(lvl AS BIGINT) AS level_micro,
           CAST(trd AS BIGINT) AS trend_micro
    FROM hw
    """,
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS — Holt linear (double-exponential) smoothing of each event
    type's daily volume, EXACTLY: level ← α·y + (1−α)(level+trend),
    trend ← β·(Δlevel) + (1−β)·trend with α = β = 1/4, in fixed-point
    micro-units with a sign-safe truncating division per step — so the
    (inherently sequential) recursion is bit-identical between the
    engine and the oracle's recursive CTE. Unlike ``ts_ewma`` (whose
    α = 1/2 recursion telescopes into a closed-form window sum), Holt's
    two-state recursion has no closed form once each step floors — this
    operator is the engine's pattern for EXACT stateful recursions:
    aggregate the corpus down to the per-key day grid (that's the
    distributed part, and the only part that sees data volume), then
    fold each key's grid with a higher-order array aggregate — per-key
    sequential, cross-key parallel, zero driver involvement.

    The smoothed level tracks weekly-seasonal data poorly by design
    (use ``ts_seasonality_decompose`` for that); Holt is the
    trend-following baseline and its one-step forecast is
    level + trend."""
    grids = _day_grids(spark, sf_dir)

    def sdiv4(expr: str) -> str:
        return _holt_sdiv4(expr, op="div")
    folded = grids.withColumn(
        "out",
        F.expr(
            f"""
            aggregate(
                g,
                struct(
                    CAST(array() AS array<struct<day:date,n:bigint,
                                                 lvl:bigint,trd:bigint>>)
                        AS out,
                    CAST(0 AS BIGINT) AS l,
                    CAST(0 AS BIGINT) AS b,
                    false AS started
                ),
                (acc, x) -> CASE WHEN NOT acc.started THEN struct(
                    array(struct(x.day AS day, x.n AS n,
                                 x.n * {_HOLT_S} AS lvl,
                                 CAST(0 AS BIGINT) AS trd)) AS out,
                    x.n * {_HOLT_S} AS l, CAST(0 AS BIGINT) AS b,
                    true AS started)
                ELSE struct(
                    acc.out || array(struct(
                        x.day AS day, x.n AS n,
                        CAST({sdiv4(f"x.n * {_HOLT_S} + 3 * (acc.l + acc.b)")}
                             AS BIGINT) AS lvl,
                        CAST({sdiv4(
                            "("
                            + sdiv4(f"x.n * {_HOLT_S} + 3 * (acc.l + acc.b)")
                            + ") - acc.l + 3 * acc.b"
                        )} AS BIGINT) AS trd)) AS out,
                    CAST({sdiv4(f"x.n * {_HOLT_S} + 3 * (acc.l + acc.b)")}
                         AS BIGINT) AS l,
                    CAST({sdiv4(
                        "("
                        + sdiv4(f"x.n * {_HOLT_S} + 3 * (acc.l + acc.b)")
                        + ") - acc.l + 3 * acc.b"
                    )} AS BIGINT) AS b,
                    true AS started)
                END
            ).out
            """
        ),
    )
    return _holt_rows(folded)


# ---------------------------------------------------------------------------
# Holt-Winters additive (triple-exponential, weekly season) — exact
# fixed-point recursion with ARRAY state

#: Seasonal period (weekly — the events fixture carries a dow profile,
#: see ts_seasonality_decompose).
_HW_M = 7


def _hw_exprs(y: str, shat: str, lvl: str, trd: str, op: str) -> tuple[str, str, str]:
    """The three Holt-Winters update expressions (level, trend, season)
    as SQL strings, α = β = γ = 1/4 via the sign-safe truncating /4
    (``_holt_sdiv4``). ``op`` is the dialect division (`div` Spark,
    `//` DuckDB). The level expression is INLINED into trend/season —
    SQL has no lets, the ts_holt_linear precedent."""
    lvl_t = _holt_sdiv4(f"{y} * {_HOLT_S} - ({shat}) + 3 * (({lvl}) + ({trd}))", op)
    trd_t = _holt_sdiv4(f"({lvl_t}) - ({lvl}) + 3 * ({trd})", op)
    sea_t = _holt_sdiv4(f"{y} * {_HOLT_S} - ({lvl_t}) + 3 * ({shat})", op)
    return lvl_t, trd_t, sea_t


_HW_LVL_SQL, _HW_TRD_SQL, _HW_SEA_SQL = _hw_exprs(
    "i.n", "h.season[1]", "h.lvl", "h.trd", "//"
)


@register(
    "ts_holt_winters",
    oracle=f"""
    WITH RECURSIVE {_DAILY_IDX_DUCK},
    init AS (
        SELECT event_type,
               CAST((SUM(n) * {_HOLT_S}) // {_HW_M} AS BIGINT) AS lvl0,
               LIST(CAST(n AS BIGINT) * {_HOLT_S} ORDER BY rn) AS ys
        FROM idx WHERE rn <= {_HW_M} GROUP BY event_type
        HAVING COUNT(*) = {_HW_M}
    ),
    hw AS (
        SELECT event_type, {_HW_M} AS rn,
               CAST(NULL AS DATE) AS day, CAST(NULL AS BIGINT) AS n,
               lvl0 AS lvl, CAST(0 AS BIGINT) AS trd,
               list_transform(ys, y -> y - lvl0) AS season
        FROM init
        UNION ALL
        SELECT i.event_type, i.rn, i.day, i.n,
               CAST({_HW_LVL_SQL} AS BIGINT),
               CAST({_HW_TRD_SQL} AS BIGINT),
               h.season[2:{_HW_M}] || [CAST({_HW_SEA_SQL} AS BIGINT)]
        FROM idx i JOIN hw h
          ON h.event_type = i.event_type AND i.rn = h.rn + 1
    )
    SELECT event_type, day, n,
           CAST(lvl AS BIGINT) AS level_micro,
           CAST(trd AS BIGINT) AS trend_micro,
           CAST(season[{_HW_M}] AS BIGINT) AS season_micro
    FROM hw WHERE rn > {_HW_M}
    """,
)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS — Holt-Winters ADDITIVE (triple-exponential) smoothing of each
    event type's daily volume, EXACTLY: the ts_holt_linear recursion
    plus a weekly seasonal state s (period m = 7):
    level ← α(y − s_{{t−m}}) + (1−α)(level+trend), trend ← Holt,
    s_t ← γ(y − level) + (1−γ)s_{{t−m}}, α = β = γ = 1/4 — THE standard
    seasonal forecaster (one-step forecast = level + trend + s_{{t+1−m}}),
    covering what Holt tracks poorly by design. Initialization is the
    textbook one: level₀ = mean of the first m days, trend₀ = 0,
    s_i = y_i − level₀; smoothed rows emit from day m+1.

    Exactness: the whole recursion — including the SEASONAL ARRAY state,
    a first for the engine's exact-recursion family — runs in fixed-point
    micro-units with the sign-safe truncating /4 per step (seasonal
    deviations go negative, so the sign-safe form is load-bearing here,
    not hygiene). Engine: per-type day grids folded with a higher-order
    aggregate whose accumulator carries (level, trend, season queue);
    oracle: a recursive CTE whose rows carry a LIST column, sliced and
    appended per step — bit-identical by construction.

    Scale: the corpus-volume part is ONE map-side-combined daily
    aggregate; the fold is per-key sequential over |days| structs,
    cross-key parallel, zero driver state."""
    grids = _day_grids(spark, sf_dir)
    lvl_t, trd_t, sea_t = _hw_exprs(
        "x.n", "element_at(acc.season, 1)", "acc.l", "acc.b", "div"
    )
    m = _HW_M
    s = _HOLT_S
    folded = grids.withColumn(
        "out",
        F.expr(
            f"""
            aggregate(
                g,
                struct(
                    CAST(array() AS array<struct<day:date,n:bigint,
                         lvl:bigint,trd:bigint,sea:bigint>>) AS out,
                    CAST(0 AS BIGINT) AS l,
                    CAST(0 AS BIGINT) AS b,
                    CAST(array() AS array<bigint>) AS season,
                    CAST(array() AS array<bigint>) AS pre
                ),
                (acc, x) -> CASE
                WHEN size(acc.pre) < {m - 1} THEN struct(
                    acc.out AS out, acc.l AS l, acc.b AS b,
                    acc.season AS season,
                    acc.pre || array(x.n * {s}) AS pre)
                WHEN size(acc.pre) = {m - 1} AND size(acc.season) = 0
                THEN struct(
                    acc.out AS out,
                    CAST(aggregate(acc.pre || array(x.n * {s}),
                                   CAST(0 AS BIGINT), (a, y) -> a + y)
                         div {m} AS BIGINT) AS l,
                    CAST(0 AS BIGINT) AS b,
                    transform(acc.pre || array(x.n * {s}),
                              y -> y - CAST(aggregate(
                                  acc.pre || array(x.n * {s}),
                                  CAST(0 AS BIGINT), (a, y2) -> a + y2)
                                  div {m} AS BIGINT)) AS season,
                    acc.pre AS pre)
                ELSE struct(
                    acc.out || array(struct(
                        x.day AS day, x.n AS n,
                        CAST({lvl_t} AS BIGINT) AS lvl,
                        CAST({trd_t} AS BIGINT) AS trd,
                        CAST({sea_t} AS BIGINT) AS sea)) AS out,
                    CAST({lvl_t} AS BIGINT) AS l,
                    CAST({trd_t} AS BIGINT) AS b,
                    slice(acc.season, 2, {m - 1})
                        || array(CAST({sea_t} AS BIGINT)) AS season,
                    acc.pre AS pre)
                END
            ).out
            """
        ),
    )
    return _holt_rows(folded, F.col("r.sea").alias("season_micro"))


# ---------------------------------------------------------------------------
# CUSUM drift detector (round 11) — exact fixed-point fold

#: Micro-unit scale for the CUSUM statistic (counts ×1e6).
_CUSUM_S = 1_000_000


@register(
    "ts_cusum_drift",
    oracle=f"""
    WITH RECURSIVE {_DAILY_IDX_DUCK},
    stats AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(n) * {_CUSUM_S} // COUNT(*) AS BIGINT) AS mu6
        FROM daily GROUP BY 1
    ),
    rec AS (
        SELECT i.event_type, i.rn,
               GREATEST(CAST(0 AS BIGINT), i.n * {_CUSUM_S} - s.mu6) AS cs,
               GREATEST(CAST(0 AS BIGINT), i.n * {_CUSUM_S} - s.mu6)
                 AS best,
               i.day AS bestday
        FROM idx i JOIN stats s ON s.event_type = i.event_type
        WHERE i.rn = 1
        UNION ALL
        SELECT i.event_type, i.rn,
               GREATEST(CAST(0 AS BIGINT),
                        r.cs + i.n * {_CUSUM_S} - s.mu6),
               CASE WHEN GREATEST(CAST(0 AS BIGINT),
                                  r.cs + i.n * {_CUSUM_S} - s.mu6) > r.best
                    THEN GREATEST(CAST(0 AS BIGINT),
                                  r.cs + i.n * {_CUSUM_S} - s.mu6)
                    ELSE r.best END,
               CASE WHEN GREATEST(CAST(0 AS BIGINT),
                                  r.cs + i.n * {_CUSUM_S} - s.mu6) > r.best
                    THEN i.day ELSE r.bestday END
        FROM idx i
        JOIN rec r ON r.event_type = i.event_type AND i.rn = r.rn + 1
        JOIN stats s ON s.event_type = i.event_type
    )
    SELECT r.event_type, s.n_days,
           ROUND(CAST(r.best AS DOUBLE) / {_CUSUM_S}, 6) AS cusum_max,
           r.bestday AS peak_day
    FROM rec r
    JOIN stats s ON s.event_type = r.event_type AND r.rn = s.n_days
    """,
)
def ts_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS — one-sided CUSUM drift detector per event type, EXACT: the
    classic Page cumulative-sum statistic S_t = max(0, S_{{t-1}} + x_t − μ)
    over the daily volume grid, reporting each type's maximum excursion
    and the FIRST day it peaks — the change-detection primitive that
    fires on sustained drifts ``ts_anomaly_zscore``'s pointwise test
    misses (ten days each +1σ never trip a 2σ z-test but accumulate in
    CUSUM). μ is the type's whole-series daily mean in micro-units
    (positive integer floor-division — trunc and floor agree, no sign
    wrap needed); the recursion folds in BIGINT micro-units with a
    strictly-greater peak update (earliest-peak tiebreak), so the
    sequential state is bit-identical to the oracle's recursive CTE.

    Scale shape: the ``ts_holt_linear`` pattern — the corpus stage is
    ONE map-side-combined (type, day) count; the fold runs per key over
    day-grid-sized arrays (hundreds of entries), cross-key parallel,
    zero driver state. Production tuning adds a slack k and a restart
    log; both are constants inside the same fold (the ``cusum_drift``
    library form the Engine facade exposes)."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return cusum_drift(daily, key="event_type", order="day", value="n")


def cusum_drift(
    daily: DataFrame, key: str, order: str, value: str
) -> DataFrame:
    """(key, n_days, cusum_max, peak_day) one-sided Page CUSUM over a
    (key, order, value) keyed day-grid frame — the library form the
    Engine facade exposes; ``ts_cusum_drift`` is its registered
    oracle-checked instance (facade-parity single-source rule). ``order``
    must be a DATE column (the fold's tiebreak state is date-typed)."""
    d = daily.select(
        F.col(key).alias("k"),
        F.col(order).alias("day"),
        F.col(value).alias("n"),
    )
    stats = d.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.expr(f"CAST(sum(n) * {_CUSUM_S} div count(*) AS BIGINT)").alias(
            "mu6"
        ),
    )
    grids = (
        d.groupBy("k")
        .agg(F.sort_array(F.collect_list(F.struct("day", "n"))).alias("g"))
        .join(stats, "k")
    )
    folded = grids.withColumn(
        "out",
        F.expr(
            f"""
            aggregate(
                g,
                struct(CAST(0 AS BIGINT) AS cs,
                       CAST(-1 AS BIGINT) AS best,
                       CAST(NULL AS DATE) AS bestday),
                (acc, x) -> struct(
                    GREATEST(CAST(0 AS BIGINT),
                             acc.cs + x.n * {_CUSUM_S} - mu6) AS cs,
                    CASE WHEN GREATEST(CAST(0 AS BIGINT),
                                       acc.cs + x.n * {_CUSUM_S} - mu6)
                              > acc.best
                         THEN GREATEST(CAST(0 AS BIGINT),
                                       acc.cs + x.n * {_CUSUM_S} - mu6)
                         ELSE acc.best END AS best,
                    CASE WHEN GREATEST(CAST(0 AS BIGINT),
                                       acc.cs + x.n * {_CUSUM_S} - mu6)
                              > acc.best
                         THEN x.day ELSE acc.bestday END AS bestday
                )
            )
            """
        ),
    )
    return folded.select(
        F.col("k").alias(key),
        "n_days",
        F.round(F.col("out.best").cast("double") / _CUSUM_S, 6).alias(
            "cusum_max"
        ),
        F.col("out.bestday").alias("peak_day"),
    )


@register(
    "ts_rolling_median_trend",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, n,
           ROUND(CAST(MEDIAN(n) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
           ) AS DOUBLE), 1) AS med7
    FROM daily
    """,
)
def ts_rolling_median_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS — centered 7-day rolling MEDIAN of each event type's daily
    volume: the robust trend line (a single spike day shifts a rolling
    mean for a week but leaves the rolling median untouched — the
    smoother ops dashboards actually want under bursty traffic, and the
    robust complement to ``ts_ewma``/``ts_holt_linear``'s mean-based
    recursions). Median of a ≤7-integer window is exact (an int or an
    int-and-a-half), so unlike running float means there is no
    accumulation order to pin — one ROUND to 1dp aligns the render.

    Scale shape: the corpus stage is the standard one map-side-combined
    (type, day) count; the window runs over the DAY GRID partitioned by
    type — thousands of rows per partition regardless of event volume.
    Edge days use the window's available neighbors (ROWS frame), the
    standard centered-window boundary convention. Spark refuses MEDIAN
    over a window frame (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), so
    the median comes from a sorted collect_list over the ≤7-row frame —
    same value, still whole-stage JVM (the ``rolling_median`` library
    form the Engine facade exposes)."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return rolling_median(daily, key="event_type", order="day", value="n")


def rolling_median(
    daily: DataFrame,
    key: str,
    order: str,
    value: str,
    half_window: int = 3,
) -> DataFrame:
    """(key, order, value, med{W}) centered W-point rolling median over a
    keyed ordered frame (W = 2·half_window + 1) — the library form the
    Engine facade exposes; ``ts_rolling_median_trend`` is its registered
    oracle-checked instance (facade-parity single-source rule). The
    value column must be integral for the exactness argument to hold."""
    w = (
        Window.partitionBy(key)
        .orderBy(order)
        .rowsBetween(-half_window, half_window)
    )
    arr = F.sort_array(F.collect_list(value).over(w))
    s = F.size(arr)
    med = F.when(
        s % 2 == 1,
        F.element_at(arr, ((s + 1) / 2).cast("int")).cast("double"),
    ).otherwise(
        (
            F.element_at(arr, (s / 2).cast("int"))
            + F.element_at(arr, (s / 2 + 1).cast("int"))
        ).cast("double")
        / 2
    )
    return daily.select(
        key,
        order,
        value,
        F.round(med, 1).alias(f"med{2 * half_window + 1}"),
    )


# ---------------------------------------------------------------------------
# Lead-lag cross-correlation (round 11)

#: Lag window (days) for the lead-lag scan, inclusive both sides.
XCORR_MAX_LAG = 3

#: The (leading, lagging) event-type pair the registered query audits.
XCORR_PAIR = ("click", "purchase")


@register(
    "ts_lead_lag_xcorr",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events
        WHERE event_type IN ('{XCORR_PAIR[0]}', '{XCORR_PAIR[1]}')
        GROUP BY 1, 2
    ),
    lags AS (SELECT r.range AS lag
             FROM RANGE(-{XCORR_MAX_LAG}, {XCORR_MAX_LAG + 1}) r),
    pairs AS (
        SELECT l.lag, a.n AS xa, b.n AS xb
        FROM daily a
        CROSS JOIN lags l
        JOIN daily b ON b.event_type = '{XCORR_PAIR[1]}'
                    AND b.day = a.day + CAST(l.lag AS INT)
        WHERE a.event_type = '{XCORR_PAIR[0]}'
    ),
    sums AS (
        SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xa) AS BIGINT) AS sa,
               CAST(SUM(xb) AS BIGINT) AS sb,
               SUM(CAST(xa AS HUGEINT) * xa) AS saa,
               SUM(CAST(xb AS HUGEINT) * xb) AS sbb,
               SUM(CAST(xa AS HUGEINT) * xb) AS sab
        FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n AS n_days,
           ROUND((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                  - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                 / (SQRT(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                         - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                    * SQRT(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                           - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))),
                 6) AS xcorr
    FROM sums
    """,
)
def ts_lead_lag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS — lead-lag cross-correlation between two event types' daily
    volumes: Pearson r of (clicks on day d, purchases on day d+lag) for
    every lag in ±3 days — the causal-screening primitive behind "does
    activity in series A LEAD series B" questions (the argmax lag is the
    lead estimate; the lag-0 column is plain co-movement). Counts are
    exact integers, so every per-lag moment sum is BIGINT-exact and the
    Pearson expression is one fixed IEEE tree (the
    ``agg_spearman_rank_corr`` finish); each lag's overlap window is an
    inner join, so shrinking overlap at the window edges is reflected in
    ``n_days``, not silently zero-filled.

    Scale shape: one map-side-combined (type, day) count, a 7-row lag
    grid broadcast over the leading series, a day-keyed equi-join onto
    the lagging series, and a 7-row roll-up. 100 TB of events is one
    scan; everything after is day-grid-sized (the ``lead_lag_xcorr``
    library form the Engine facade exposes)."""
    e = load(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("event_type").isin(*XCORR_PAIR))
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    lead = daily.filter(F.col("event_type") == XCORR_PAIR[0]).select(
        "day", F.col("n").alias("x")
    )
    lagf = daily.filter(F.col("event_type") == XCORR_PAIR[1]).select(
        "day", F.col("n").alias("x")
    )
    return lead_lag_xcorr(lead, lagf, max_lag=XCORR_MAX_LAG)


def _pair_moments(pairs: DataFrame, *keys: str) -> DataFrame:
    """Per-``keys`` pair count n and moment sums of paired series (xa,
    xb). Squared-value sums are DECIMAL(38,0): daily volumes at 100 TB
    are ~10^10-10^12, so Σx² passes int64's 9.2e18 ceiling (r12
    overflow-headroom audit; oracle uses HUGEINT). Linear sums stay
    BIGINT."""
    return pairs.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xa").cast("bigint").alias("sa"),
        F.sum("xb").cast("bigint").alias("sb"),
        F.sum(F.col("xa").cast("decimal(38,0)") * F.col("xa")).alias("saa"),
        F.sum(F.col("xb").cast("decimal(38,0)") * F.col("xb")).alias("sbb"),
        F.sum(F.col("xa").cast("decimal(38,0)") * F.col("xb")).alias("sab"),
    )


def _pearson6() -> Column:
    """Pearson r of the :func:`_pair_moments` sums rounded to 6 places.
    A constant side zeroes its variance and leaves r undefined: NULL, as
    DuckDB returns (ANSI Spark threw on the division, r15 sweep)."""
    nd = F.col("n").cast("double")
    vara = nd * F.col("saa").cast("double") - F.col("sa").cast(
        "double"
    ) * F.col("sa").cast("double")
    varb = nd * F.col("sbb").cast("double") - F.col("sb").cast(
        "double"
    ) * F.col("sb").cast("double")
    r = (
        nd * F.col("sab").cast("double")
        - F.col("sa").cast("double") * F.col("sb").cast("double")
    ) / (F.sqrt(vara) * F.sqrt(varb))
    return F.when((vara == 0) | (varb == 0), F.lit(None).cast("double")).otherwise(
        F.round(r, 6)
    )


def lead_lag_xcorr(
    lead: DataFrame, lagging: DataFrame, max_lag: int = XCORR_MAX_LAG
) -> DataFrame:
    """(lag, n_days, xcorr) Pearson cross-correlation of two (day, x)
    daily series at every lag in ±max_lag — the library form the Engine
    facade exposes; ``ts_lead_lag_xcorr`` is its registered
    oracle-checked instance (facade-parity single-source rule). Values
    must be integral (the moment sums are BIGINT-exact)."""
    spark = lead.sparkSession
    lags = spark.range(-max_lag, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    lead = lead.select(F.col("day").alias("day_a"), F.col("x").alias("xa"))
    lagf = lagging.select(
        F.col("day").alias("day_b"), F.col("x").alias("xb")
    )
    pairs = (
        lead.crossJoin(F.broadcast(lags))
        .withColumn("day_b", F.date_add(F.col("day_a"), F.col("lag")))
        .join(lagf, "day_b")
    )
    return _pair_moments(pairs, "lag").select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").alias("n_days"),
        _pearson6().alias("xcorr"),
    )


@register(
    "ts_anova_weekday",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               DAYOFWEEK(CAST(ts AS DATE)) AS dow,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2, 3
    ),
    per_dow AS (
        SELECT event_type, dow,
               CAST(SUM(n) AS BIGINT) AS sg,
               SUM(CAST(n AS HUGEINT) * n) AS qg,
               CAST(COUNT(*) AS BIGINT) AS ng
        FROM daily GROUP BY 1, 2
    ),
    per_type AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(ng) AS BIGINT) AS nt,
               CAST(SUM(sg) AS BIGINT) AS st,
               CAST(SUM(qg) AS BIGINT) AS qt,
               SUM(CAST(sg AS DOUBLE) * sg / ng) AS between_raw
        FROM per_dow GROUP BY event_type
    )
    SELECT event_type, k, nt AS n_days,
           ROUND(((between_raw - CAST(st AS DOUBLE) * st / nt) / (k - 1))
                 / ((qt - between_raw) / (nt - k)), 6) AS f_stat
    FROM per_type
    """,
)
def ts_anova_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS — one-way ANOVA of daily event volume by day-of-week, per event
    type: F = (between-group MS)/(within-group MS) over the 7 weekday
    groups — the classical "is there a weekly effect" test completing
    the engine's inference family (Welch t compares two groups,
    chi-square tests categorical independence; ANOVA is the k-group
    mean comparison). Daily counts are integers, so the group sums
    (S_g, ΣX², n_g) are BIGINT-exact and F is assembled from the
    textbook identity SSB = Σ S_g²/n_g − S²/N, SSW = ΣX² − Σ S_g²/n_g
    through one fixed IEEE tree — the only float ops are the final
    divisions. (The Σ S_g²/n_g term is a 7-element float sum per type;
    Spark's and DuckDB's 7-row aggregation orders could differ, but both
    operands are exact doubles ≤ 2^53 and the sum is over ≤7 terms whose
    magnitudes are within 2 decades — empirically hash-stable at every
    SF, and the dsum-strict alternative (ROUND to 9dp per term) is one
    edit away if a future fixture breaks the tie.)

    Scale shape: one (type, day)-keyed count, a (type, dow) roll-up
    (≤ |types|·7 rows), a |types|-row finish. One scan at any volume
    (the ``anova_oneway`` library form the Engine facade exposes)."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.dayofweek(F.col("ts").cast("date")).alias("dow"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return anova_oneway(
        daily, segment="event_type", group="dow", value="n"
    ).withColumnRenamed("n_obs", "n_days")


def anova_oneway(
    df: DataFrame, segment: str, group: str, value: str
) -> DataFrame:
    """(segment, k, n_obs, f_stat) one-way ANOVA F of an integral value
    column across ``group`` levels, computed independently per
    ``segment`` — the library form the Engine facade exposes;
    ``ts_anova_weekday`` is its registered oracle-checked instance
    (facade-parity single-source rule). Each df row is one observation."""
    d = df.select(
        F.col(segment).alias("seg"),
        F.col(group).alias("grp"),
        F.col(value).alias("x"),
    )
    # ΣX² in DECIMAL(38,0): squared observations pass int64 when the
    # per-group values reach ~10^9 (r12 overflow-headroom audit; oracle
    # uses HUGEINT). Linear sums stay BIGINT; qt inherits the decimal.
    per_grp = d.groupBy("seg", "grp").agg(
        F.sum("x").cast("bigint").alias("sg"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("qg"),
        F.count(F.lit(1)).cast("bigint").alias("ng"),
    )
    per_seg = per_grp.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("ng").cast("bigint").alias("nt"),
        F.sum("sg").cast("bigint").alias("st"),
        F.sum("qg").alias("qt"),
        F.sum(F.col("sg").cast("double") * F.col("sg") / F.col("ng")).alias(
            "between_raw"
        ),
    )
    ssb = F.col("between_raw") - F.col("st").cast("double") * F.col("st") / F.col("nt")
    ssw = F.col("qt") - F.col("between_raw")
    # degenerate-margin guard (r15 ANSI sweep): a single group level
    # (k = 1), no within-group df (nt = k), or zero within-group
    # variance each zero an F denominator — ANSI Spark threw where
    # DuckDB returns NULL. NULL F on both engines.
    degenerate = (
        (F.col("k") <= 1)
        | (F.col("nt") <= F.col("k"))
        | (ssw.cast("double") == 0)
    )
    return per_seg.select(
        F.col("seg").alias(segment),
        "k",
        F.col("nt").alias("n_obs"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (ssb / (F.col("k") - 1))
                / (ssw / (F.col("nt") - F.col("k"))),
                6,
            )
        )
        .alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Daily-volume autocorrelation function (round 12)

#: Max lag (days) of the registered ACF instance, inclusive.
ACF_MAX_LAG = 7


@register(
    "ts_autocorr_acf",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    lags AS (SELECT r.range AS lag FROM RANGE(0, {ACF_MAX_LAG + 1}) r),
    pairs AS (
        SELECT a.event_type, l.lag, a.n AS xa, b.n AS xb
        FROM daily a
        CROSS JOIN lags l
        JOIN daily b ON b.event_type = a.event_type
                    AND b.day = a.day + CAST(l.lag AS INT)
    ),
    sums AS (
        SELECT event_type, lag, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xa) AS BIGINT) AS sa,
               CAST(SUM(xb) AS BIGINT) AS sb,
               SUM(CAST(xa AS HUGEINT) * xa) AS saa,
               SUM(CAST(xb AS HUGEINT) * xb) AS sbb,
               SUM(CAST(xa AS HUGEINT) * xb) AS sab
        FROM pairs GROUP BY 1, 2
    )
    SELECT event_type, CAST(lag AS BIGINT) AS lag, n AS n_days,
           ROUND((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                  - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                 / (SQRT(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                         - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                    * SQRT(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                           - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))),
                 6) AS acf
    FROM sums
    """,
)
def ts_autocorr_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS — lag-k autocorrelation of each event type's daily volume for
    k = 0..7: Pearson r of (x_t, x_{{t+k}}) over the overlapping day
    pairs — the periodicity detector that makes weekly seasonality a
    NUMBER (a strong day-7 peak = weekly cycle; lag-0 pins at exactly
    1.0, a free closed-form check). This is ``ts_lead_lag_xcorr``'s
    algebra turned inward: the same day-grid lag joins, BIGINT linear
    sums, DECIMAL(38,0)/HUGEINT squared moments (born under the r12
    overflow-headroom rule — daily volumes square past int64 at 100 TB),
    and one fixed IEEE Pearson tree. The windowed-overlap estimator is
    used (each lag's n_days shrinks by k), so no zero-padding bias.

    Scale shape: one map-side-combined (type, day) count, an 8-row lag
    grid broadcast, a (type, day)-keyed equi-join, a (type, lag) roll-up.
    One scan at any volume; everything after is day-grid-sized. (The
    ``autocorr`` library form the Engine facade exposes.)"""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return autocorr(
        daily, key="event_type", order="day", value="n",
        max_lag=ACF_MAX_LAG,
    )


def autocorr(
    daily: DataFrame,
    key: str,
    order: str,
    value: str,
    max_lag: int = ACF_MAX_LAG,
) -> DataFrame:
    """(key, lag, n_days, acf) lag-k autocorrelation (k = 0..max_lag) of
    a keyed (DATE-ordered) integral daily series — the library form the
    Engine facade exposes; ``ts_autocorr_acf`` is its registered
    oracle-checked instance (facade-parity single-source rule)."""
    spark = daily.sparkSession
    d = daily.select(
        F.col(key).alias("k"),
        F.col(order).alias("day"),
        F.col(value).alias("x"),
    )
    lags = spark.range(0, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = d.select("k", F.col("day").alias("day_a"), F.col("x").alias("xa"))
    b = d.select("k", F.col("day").alias("day_b"), F.col("x").alias("xb"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .withColumn("day_b", F.date_add(F.col("day_a"), F.col("lag")))
        .join(b, ["k", "day_b"])
    )
    return _pair_moments(pairs, "k", "lag").select(
        F.col("k").alias(key),
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").alias("n_days"),
        _pearson6().alias("acf"),
    )


@register(
    "ts_burstiness_fano",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    m AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd,
               CAST(SUM(n) AS BIGINT) AS s1,
               SUM(CAST(n AS HUGEINT) * n) AS s2
        FROM daily GROUP BY event_type
    )
    SELECT event_type, nd AS n_days,
           ROUND(CAST(s1 AS DOUBLE) / nd, 6) AS mean_daily,
           ROUND((CAST(nd AS DOUBLE) * CAST(s2 AS DOUBLE)
                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                 / (CAST(nd AS DOUBLE) * CAST(s1 AS DOUBLE)), 6) AS fano
    FROM m
    """,
)
def ts_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS — Fano factor (variance-to-mean ratio) of each event type's
    daily volume: the one-number burstiness index (Poisson arrivals pin
    it at exactly 1; >1 = bursty/overdispersed traffic, <1 =
    regular/underdispersed) — the dispersion complement to
    ``ts_autocorr_acf``'s periodicity view, and the test capacity
    planning runs before trusting a Poisson load model. Population
    variance over mean from exact integer moments — Σx² in
    DECIMAL(38,0)/HUGEINT (the r12 overflow-headroom rule) — through
    one fixed IEEE tree, rounded at 6dp on both engines.

    Scale shape: one map-side-combined (type, day) count, a |types|-row
    moment roll-up. One scan at any volume. (The ``fano_factor``
    library form the Engine facade exposes.)"""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return fano_factor(daily, key="event_type", value="n")


def fano_factor(daily: DataFrame, key: str, value: str) -> DataFrame:
    """(key, n_days, mean_daily, fano) Fano factor (variance-to-mean
    ratio), the burstiness index of a keyed integral series — the library
    form the Engine facade exposes;
    ``ts_burstiness_fano`` is its registered oracle-checked instance
    (facade-parity single-source rule)."""
    d = daily.select(F.col(key).alias("k"), F.col(value).alias("x"))
    m = d.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("s2"),
    )
    ndd = F.col("nd").cast("double")
    return m.select(
        F.col("k").alias(key),
        F.col("nd").alias("n_days"),
        F.round(F.col("s1").cast("double") / F.col("nd"), 6).alias(
            "mean_daily"
        ),
        # zero-total series (s1 = 0): variance-to-mean is undefined —
        # ANSI Spark threw where DuckDB returns NULL (r15 ANSI sweep)
        F.when(F.col("s1") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (ndd * F.col("s2").cast("double")
                 - F.col("s1").cast("double") * F.col("s1").cast("double"))
                / (ndd * F.col("s1").cast("double")),
                6,
            )
        )
        .alias("fano"),
    )


@register(
    "ts_theil_sen_slope",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    slopes AS (
        SELECT a.event_type,
               CAST(FLOOR((b.n - a.n) * 1000000.0
                          / (b.day - a.day)) AS BIGINT) AS s6,
               CAST(COUNT(*) AS BIGINT) AS f
        FROM daily a
        JOIN daily b ON b.event_type = a.event_type AND b.day > a.day
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, s6, f,
               CAST(SUM(f) OVER (
                   PARTITION BY event_type ORDER BY s6
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cf,
               CAST(SUM(f) OVER (PARTITION BY event_type) AS BIGINT) AS np
        FROM slopes
    )
    SELECT event_type, MIN(np) AS n_pairs,
           ROUND(CAST(MIN(CASE WHEN cf * 2 >= np THEN s6 END) AS DOUBLE)
                 / 1e6, 6) AS sen_slope
    FROM cum GROUP BY event_type
    """,
)
def ts_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS — Theil-Sen robust trend slope of each event type's daily
    volume: the type-1 median of ALL pairwise slopes
    (n_b − n_a)/(day_b − day_a) — the 29%-breakdown-point trend
    estimator that one launch-day spike cannot bend (an OLS slope is
    hostage to it), and the robust counterpart of the engine's
    Holt/EWMA mean-trend family. Pairs come from the DAY-GRID self-join
    (≤ days²/2 per type — hundreds of thousands of grid cells at most,
    never row-cardinality); each slope quantizes to 6-digit fixed point
    through one double division + FLOOR (identical IEEE ops both
    engines — floor-of-double sidesteps the div-vs-// integer sign
    trap), and the weighted median reuses the integer threshold test
    2·cf ≥ n from the round-12 matrix family.

    Scale shape: one map-side-combined (type, day) count; everything
    after is day-grid-sized. The slope matrix window partitions by
    event_type over ≤ pairs-per-type rows. (The ``theil_sen`` library
    form the Engine facade exposes.)"""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return theil_sen(daily, key="event_type", order="day", value="n")


def theil_sen(
    daily: DataFrame, key: str, order: str, value: str
) -> DataFrame:
    """(key, n_pairs, sen_slope) Theil-Sen median slope of a keyed
    (DATE-ordered) integral series — the library form the Engine facade
    exposes; ``ts_theil_sen_slope`` is its registered oracle-checked
    instance (facade-parity single-source rule)."""
    d = daily.select(
        F.col(key).alias("k"),
        F.col(order).alias("day"),
        F.col(value).alias("n"),
    )
    a = d.select("k", F.col("day").alias("day_a"), F.col("n").alias("na"))
    b = d.select("k", F.col("day").alias("day_b"), F.col("n").alias("nb"))
    slopes = (
        a.join(b, "k")
        .filter(F.col("day_b") > F.col("day_a"))
        .groupBy(
            "k",
            F.floor(
                (F.col("nb") - F.col("na"))
                * 1000000.0
                / F.datediff(F.col("day_b"), F.col("day_a"))
            )
            .cast("bigint")
            .alias("s6"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    wc = (
        Window.partitionBy("k")
        .orderBy("s6")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("k").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = slopes.withColumn(
        "cf", F.sum("f").over(wc).cast("bigint")
    ).withColumn("np", F.sum("f").over(wp).cast("bigint"))
    return cum.groupBy(F.col("k").alias(key)).agg(
        F.min("np").alias("n_pairs"),
        F.round(
            F.min(
                F.when(F.col("cf") * 2 >= F.col("np"), F.col("s6"))
            ).cast("double")
            / 1e6,
            6,
        ).alias("sen_slope"),
    )


@register(
    "ts_forecast_backtest",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    scored AS (
        SELECT a.event_type, a.n AS actual, f7.n AS fc7, f1.n AS fc1
        FROM daily a
        JOIN daily f7 ON f7.event_type = a.event_type
                     AND f7.day = a.day - INTERVAL 7 DAY
        JOIN daily f1 ON f1.event_type = a.event_type
                     AND f1.day = a.day - INTERVAL 1 DAY
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(CAST(SUM(ABS(actual - fc7)) AS DOUBLE) / COUNT(*), 6)
               AS mae,
           ROUND(SQRT(CAST(SUM((actual - fc7) * (actual - fc7)) AS DOUBLE)
                      / COUNT(*)), 6) AS rmse,
           CASE WHEN SUM(CASE WHEN actual = 0 THEN 1 ELSE 0 END) > 0
                THEN NULL
                ELSE ROUND(CAST(SUM(CASE WHEN actual = 0
                                    THEN CAST(0 AS DECIMAL(18,9))
                               ELSE CAST(ROUND(
                                     CAST(ABS(actual - fc7) AS DOUBLE)
                                     / actual, 9) AS DECIMAL(18,9)) END)
                      AS DOUBLE) / COUNT(*), 6) END AS mape,
           ROUND(CAST(SUM(CASE WHEN actual + fc7 = 0
                               THEN CAST(0 AS DECIMAL(18,9))
                          ELSE CAST(ROUND(2.0 * ABS(actual - fc7)
                                     / (actual + fc7), 9)
                               AS DECIMAL(18,9)) END)
                      AS DOUBLE) / COUNT(*), 6) AS smape,
           CASE WHEN SUM(ABS(actual - fc1)) = 0 THEN NULL
                ELSE ROUND(CAST(SUM(ABS(actual - fc7)) AS DOUBLE)
                 / SUM(ABS(actual - fc1)), 6) END AS mase
    FROM scored GROUP BY event_type
    """,
)
def ts_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS — forecast BACKTESTING metrics for the seasonal-naive model
    (predict each day's event volume by the same weekday last week):
    MAE, RMSE, MAPE, sMAPE, and MASE (Hyndman & Koehler 2006 — scaled
    against the one-day-naive forecast on the same evaluation days, so
    MASE < 1 means "beats persistence"). This is the evaluation half of
    the engine's forecasting family (ts_seasonal_baseline / ts_holt*
    produce forecasts; this scores any of them).

    Exactness: daily counts are integers, so MAE/RMSE/MASE are exact
    integer sums through one terminal division (MASE's two MAEs share
    the day count, which cancels — a single integer-ratio division);
    the per-day MAPE and sMAPE rationals round to the 9-grid and fold
    through DECIMAL(18,9) (dsum rule) before the mean.

    Scale: one map-side-combined (type, day) aggregate; the forecast
    joins key on (type, date) over the DAY GRID — thousands of rows at
    any corpus size. Nothing row-scale survives the first aggregate."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return forecast_backtest(daily, key="event_type", order="day", value="n")


def forecast_backtest(
    daily: DataFrame,
    key: str,
    order: str,
    value: str,
    season: int = 7,
) -> DataFrame:
    """(key, n_days, mae, rmse, mape, smape, mase) — seasonal-naive
    forecast backtest over a keyed DATE-grid integer series (forecast =
    value ``season`` days back; MASE scaled by one-day persistence);
    the library form the Engine facade exposes (``ts_forecast_backtest``
    is its registered oracle-checked instance)."""
    # date-grid by contract (calendar-bounded); materialize once — the
    # lazy form re-planned the upstream corpus aggregate through the
    # actual/forecast/persistence branches (3 scans in one plan; r15)
    daily = daily.select(
        F.col(key).alias("event_type"),
        F.col(order).alias("day"),
        F.col(value).alias("n"),
    ).localCheckpoint(eager=True)
    a = daily.select("event_type", "day", F.col("n").alias("actual"))
    f7 = daily.select(
        "event_type",
        F.date_add("day", season).alias("day"),
        F.col("n").alias("fc7"),
    )
    f1 = daily.select(
        "event_type",
        F.date_add("day", 1).alias("day"),
        F.col("n").alias("fc1"),
    )
    scored = a.join(f7, ["event_type", "day"]).join(
        f1, ["event_type", "day"]
    )
    e7 = F.abs(F.col("actual") - F.col("fc7"))
    out = scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(F.sum(e7).cast("double") / F.count(F.lit(1)), 6).alias(
            "mae"
        ),
        F.round(
            F.sqrt(
                F.sum(
                    (F.col("actual") - F.col("fc7"))
                    * (F.col("actual") - F.col("fc7"))
                ).cast("double")
                / F.count(F.lit(1))
            ),
            6,
        ).alias("rmse"),
        # degenerate-margin guards (r15 ANSI sweep): an actual = 0 day
        # makes its MAPE term divide by zero (MAPE is undefined there —
        # NULL when any zero-actual day exists, the standard caveat); an
        # actual = fc7 = 0 day's sMAPE term is the conventional exact 0
        # (no error, no contribution); a CONSTANT series zeroes MASE's
        # one-day-persistence scale. Each threw on ANSI Spark.
        F.when(
            F.sum(F.when(F.col("actual") == 0, 1).otherwise(0)) > 0,
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                F.sum(
                    F.when(
                        F.col("actual") == 0,
                        F.lit(0).cast("decimal(18,9)"),
                    ).otherwise(
                        F.round(
                            e7.cast("double") / F.col("actual"), 9
                        ).cast("decimal(18,9)")
                    )
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            )
        )
        .alias("mape"),
        F.round(
            F.sum(
                F.when(
                    F.col("actual") + F.col("fc7") == 0,
                    F.lit(0).cast("decimal(18,9)"),
                ).otherwise(
                    F.round(
                        2.0 * e7 / (F.col("actual") + F.col("fc7")), 9
                    ).cast("decimal(18,9)")
                )
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("smape"),
        F.when(
            F.sum(F.abs(F.col("actual") - F.col("fc1"))) == 0,
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                F.sum(e7).cast("double")
                / F.sum(F.abs(F.col("actual") - F.col("fc1"))),
                6,
            )
        )
        .alias("mase"),
    )
    return out.withColumnRenamed("event_type", key)


@register(
    "ts_piecewise_trend",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    idx AS (
        SELECT event_type, day, n,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY day) AS BIGINT) AS r,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS nd
        FROM daily
    ),
    seg AS (
        SELECT event_type,
               CAST(LEAST(2, ((r - 1) * 3) // nd) AS BIGINT) AS segment,
               r, n
        FROM idx
    ),
    moms AS (
        SELECT event_type, segment,
               CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(r) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(n) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(r * n) AS DECIMAL(38,0)) AS sxy,
               CAST(SUM(r * r) AS DECIMAL(38,0)) AS sxx
        FROM seg GROUP BY 1, 2
    )
    SELECT event_type, segment, m AS n_days,
           ROUND(CAST(sy AS DOUBLE) / m, 6) AS mean_level,
           CASE WHEN m <= 1 THEN NULL
                ELSE ROUND(CAST(m * sxy - sx * sy AS DOUBLE)
                 / CAST(m * sxx - sx * sx AS DOUBLE), 6) END AS slope
    FROM moms
    """,
)
def ts_piecewise_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS — PIECEWISE-linear trend: split each type's daily-volume
    series into tercile segments by day rank and fit an exact
    closed-form OLS slope per segment — the change-of-trend summary
    (did growth accelerate, flatten, reverse?) that a single global
    slope (ts_trend_ols) averages away and a changepoint detector
    (ts_changepoint_shift) only locates. Knots at rank terciles via
    exact integer division ((r−1)·3 div n).

    Exactness: x = day rank, y = daily count — both exact integers, so
    every OLS moment (Σx, Σy, Σxy, Σx²) is an exact DECIMAL(38,0) and
    the slope (mΣxy − ΣxΣy)/(mΣx² − (Σx)²) is two exact integers
    through ONE IEEE division, rounded 6 (the ts_trend_ols discipline,
    per segment).

    Scale: one (type, day) aggregate; rank windows partition by type
    over the day grid; 15 output rows of integer algebra."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return piecewise_trend(daily, key="event_type", order="day", value="n")


def piecewise_trend(
    daily: DataFrame,
    key: str,
    order: str,
    value: str,
    segments: int = 3,
) -> DataFrame:
    """(key, segment, n_days, mean_level, slope) — piecewise-linear
    trend over a keyed ordered integer series: split each key's series
    into ``segments`` rank-tercile segments and fit an exact
    closed-form OLS slope per segment (the library form the Engine
    facade exposes; ``ts_piecewise_trend`` is its registered
    oracle-checked instance). ``value`` must be integer-valued — the
    OLS moments accumulate as exact DECIMAL(38,0)."""
    wr = Window.partitionBy(key).orderBy(order)
    wn = Window.partitionBy(key)
    idx = daily.select(
        F.col(key).alias("__k"),
        F.col(value).alias("n"),
        F.row_number().over(wr).cast("bigint").alias("r"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("nd"),
    )
    seg = idx.select(
        "__k",
        F.least(
            F.lit(segments - 1).cast("bigint"),
            F.expr(f"((r - 1) * {segments}) div nd"),
        )
        .cast("bigint")
        .alias("segment"),
        "r",
        "n",
    )
    moms = seg.groupBy("__k", "segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("r").cast("decimal(38,0)").alias("sx"),
        F.sum("n").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("r") * F.col("n")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("r") * F.col("r")).cast("decimal(38,0)").alias("sxx"),
    )
    return moms.select(
        F.col("__k").alias(key),
        "segment",
        F.col("m").alias("n_days"),
        F.round(F.col("sy").cast("double") / F.col("m"), 6).alias(
            "mean_level"
        ),
        # single-day segment (m = 1; ranks are distinct so m >= 2 has
        # positive x-variance): slope undefined — ANSI Spark threw
        # where DuckDB returns NULL (r15 ANSI sweep)
        F.when(F.col("m") <= 1, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (
                    F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
                ).cast("double")
                / (
                    F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
                ).cast("double"),
                6,
            )
        )
        .alias("slope"),
    )


# --------------------------------------------------------------------------
# Mann–Kendall trend test (Mann 1945, Kendall 1975) — the nonparametric
# companion to ts_trend_ols / ts_theil_sen_slope
# --------------------------------------------------------------------------

#: z_{0.975} rejection line at two-sided alpha = 0.05, shared literal.
_MK_Z95 = "1.959963984540054"


@register(
    "ts_mann_kendall",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT a.event_type,
               CAST(SUM(CASE WHEN b.x > a.x THEN 1
                             WHEN b.x < a.x THEN -1 ELSE 0 END)
                    AS BIGINT) AS s_stat
        FROM daily a JOIN daily b
          ON b.event_type = a.event_type AND b.day > a.day
        GROUP BY 1
    ),
    ties AS (
        SELECT event_type,
               CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_adj
        FROM (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS t
              FROM daily GROUP BY event_type, x)
        GROUP BY 1
    ),
    nd AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM daily GROUP BY 1
    )
    SELECT n.event_type, n.n AS n_days, s.s_stat,
           ROUND((CAST(n.n AS DOUBLE) * (n.n - 1) * (2 * n.n + 5)
                  - t.tie_adj) / 18.0, 6) AS var_s,
           ROUND(CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1)
                      / SQRT((CAST(n.n AS DOUBLE) * (n.n - 1)
                              * (2 * n.n + 5) - t.tie_adj) / 18.0)
                      WHEN s.s_stat < 0 THEN (s.s_stat + 1)
                      / SQRT((CAST(n.n AS DOUBLE) * (n.n - 1)
                              * (2 * n.n + 5) - t.tie_adj) / 18.0)
                      ELSE 0.0 END, 6) AS z,
           CASE WHEN s.s_stat > 0 AND (s.s_stat - 1)
                     / SQRT((CAST(n.n AS DOUBLE) * (n.n - 1)
                             * (2 * n.n + 5) - t.tie_adj) / 18.0)
                     > {_MK_Z95} THEN 'increasing'
                WHEN s.s_stat < 0 AND (s.s_stat + 1)
                     / SQRT((CAST(n.n AS DOUBLE) * (n.n - 1)
                             * (2 * n.n + 5) - t.tie_adj) / 18.0)
                     < -{_MK_Z95} THEN 'decreasing'
                ELSE 'none' END AS trend
    FROM nd n JOIN s USING (event_type) JOIN ties t USING (event_type)
    """,
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS — MANN–KENDALL trend test per event type on the daily-count
    series: the NONPARAMETRIC trend detector (S = Σ_(i<j)
    sign(x_j − x_i)) that pairs with ts_theil_sen_slope exactly the way
    the textbook pairs them — Theil–Sen estimates the slope, Mann–
    Kendall decides whether a monotone trend EXISTS at all, with no
    normality or linearity assumption and full robustness to outliers.
    Variance uses the tie-corrected form Var(S) = (n(n−1)(2n+5) −
    Σ t(t−1)(2t+5))/18; z applies the ±1 continuity correction; the
    trend verdict compares the UNROUNDED z to the shared z₀.₉₇₅
    literal.

    Exactness: S and the tie adjustment are exact integers off the
    bounded day-grid pair join (the ts_active_users band-join shape —
    no unbounded window, ~n²/2 grid pairs per type); one sqrt + one
    division at the end, rounded 6.

    Scale: the row-scale stage is the one (type, day) count aggregate;
    the pair join is day-grid-sized (30 days → 435 pairs per type)."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    return mann_kendall(daily, key="event_type", order="day", value="x")


def mann_kendall(
    daily: DataFrame, key: str, order: str, value: str
) -> DataFrame:
    """(key, n_days, s_stat, var_s, z, trend) — tie-corrected Mann–
    Kendall over a keyed ordered integer series (the library form the
    Engine facade exposes; ``ts_mann_kendall`` is its registered
    oracle-checked instance). The pair join is |order-grid|² per key —
    meant for bounded grids (days, hours), not row-scale series."""
    d = daily.select(
        F.col(key).alias("__k"),
        F.col(order).alias("__o"),
        F.col(value).alias("x"),
    )
    d = d.localCheckpoint(eager=True)  # grid-sized; consumed 3x
    a = d.select(
        F.col("__k"), F.col("__o").alias("oa"), F.col("x").alias("xa")
    )
    b = d.select(
        F.col("__k").alias("__kb"),
        F.col("__o").alias("ob"),
        F.col("x").alias("xb"),
    )
    s = (
        a.join(
            b,
            (F.col("__kb") == F.col("__k")) & (F.col("ob") > F.col("oa")),
        )
        .groupBy("__k")
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    ties = (
        d.groupBy("__k", "x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .groupBy("__k")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("bigint")
            .alias("tie_adj")
        )
    )
    nd = d.groupBy("__k").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    j = nd.join(s, "__k").join(ties, "__k")
    n = F.col("n")
    var_s = (
        n.cast("double") * (n - 1) * (2 * n + 5) - F.col("tie_adj")
    ) / 18.0
    z = (
        F.when(
            F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt(var_s)
        )
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    zlit = F.expr(_MK_Z95)
    return j.select(
        F.col("__k").alias(key),
        n.alias("n_days"),
        "s_stat",
        F.round(var_s, 6).alias("var_s"),
        F.round(z, 6).alias("z"),
        F.when((F.col("s_stat") > 0) & (z > zlit), "increasing")
        .when((F.col("s_stat") < 0) & (z < -zlit), "decreasing")
        .otherwise("none")
        .alias("trend"),
    )
