"""Driver-gated analogues of the metric shapes (M1/M2/M5/M9/M11) over the
generic ``events`` testdata table — so the driver's DuckDB gate exercises the
same operator compositions the MTA metrics use (the MTA metrics themselves
run on domain fixtures and are oracle-checked in tests/test_mta_metrics.py).

events.user_id plays trip_uid, event_type plays route_id, ts plays
feed/event timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mta_rtf_dbt_spark.functions import bq
from mta_rtf_dbt_spark.registry import persist, q
from mta_rtf_dbt_spark.sources.registry import load


@q(
    "m1_analog_actors_per_minute",
    """
    SELECT event_type, date_trunc('minute', ts) AS ts_minute,
           count(DISTINCT user_id) AS actors_observed
    FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
    GROUP BY 1, 2
    """,
)
def m1_analog(spark, sf_dir):
    """M1 shape (metrics_guide.md:22-36): BETWEEN window + minute trunc +
    count distinct per group."""
    e = load(spark, sf_dir, "events")
    return (
        e.filter(F.col("ts").between("2024-01-05 00:00:00", "2024-01-20 00:00:00"))
        .groupBy(
            "event_type", bq.timestamp_trunc(F.col("ts"), "minute").alias("ts_minute")
        )
        .agg(F.countDistinct("user_id").alias("actors_observed"))
    )


@q(
    "m2_analog_5min_buckets",
    """
    SELECT event_type,
           CAST(to_timestamp(300 * (CAST(floor(epoch_us(ts)/1000000.0) AS BIGINT) // 300)) AS TIMESTAMP) AS ts_5min,
           count(DISTINCT user_id) AS actors_observed
    FROM events GROUP BY 1, 2
    """,
)
def m2_analog(spark, sf_dir):
    """M2 shape (metrics_guide.md:38-52): aligned 5-min buckets via
    UNIX_SECONDS + DIV arithmetic (F10)."""
    e = load(spark, sf_dir, "events")
    bucket = bq.timestamp_seconds(
        F.lit(300) * bq._trunc_div(bq.unix_seconds(F.col("ts")), 300)
    )
    return e.groupBy("event_type", bucket.alias("ts_5min")).agg(
        F.countDistinct("user_id").alias("actors_observed")
    )


@q(
    "w_hopping_windows",
    """
    WITH x AS (
      SELECT event_type, user_id,
             300 * (CAST(floor(epoch_us(ts)/1000000.0) AS BIGINT) // 300) AS s1
      FROM events
    ),
    w AS (SELECT event_type, user_id, unnest([s1 - 300, s1]) AS win_s FROM x)
    SELECT CAST(to_timestamp(win_s) AS TIMESTAMP) AS win_start,
           CAST(to_timestamp(win_s + 600) AS TIMESTAMP) AS win_end,
           event_type,
           COUNT(*) AS n_events,
           count(DISTINCT user_id) AS actors
    FROM w GROUP BY 1, 2, 3
    """,
)
def w_hopping_windows(spark, sf_dir):
    """Hopping (sliding) windows in batch via the native ``F.window`` with a
    slideDuration — 10-minute windows every 5 minutes, so each event lands
    in exactly two (the overlap ratio). Covers the window-function surface
    the tumbling M1/M2 analogs don't; the streaming jobs share the same
    expression. Oracle: each event's two epoch-aligned window starts
    enumerated by integer arithmetic."""
    e = load(spark, sf_dir, "events")
    w = F.window(F.col("ts"), "10 minutes", "5 minutes")
    return (
        e.groupBy(w.alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("actors"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n_events",
            "actors",
        )
    )


@q(
    "m1_gapfill_spine",
    """
    WITH b AS (
      SELECT date_trunc('minute', ts) AS m, count(DISTINCT user_id) AS actors
      FROM events
      WHERE ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-05 06:00:00'
      GROUP BY 1
    ),
    spine AS (
      SELECT unnest(generate_series(TIMESTAMP '2024-01-05 00:00:00',
                                    TIMESTAMP '2024-01-05 06:00:00',
                                    INTERVAL 1 MINUTE)) AS ts_minute
    )
    SELECT CAST(s.ts_minute AS TIMESTAMP) AS ts_minute,
           COALESCE(b.actors, 0) AS actors_observed,
           (b.m IS NULL) AS gap_filled
    FROM spine s LEFT JOIN b ON b.m = s.ts_minute
    """,
)
def m1_gapfill_spine(spark, sf_dir):
    """Gap-filled minutely series: a generated date spine (``sequence`` +
    explode — the idiomatic Spark date dimension, no driver-side loop)
    left-joined to the observed per-minute counts, empty minutes emitted as
    explicit zeros with a gap flag. The reporting shape every metrics chart
    needs that plain GROUP BY can't produce (absent groups don't exist)."""
    e = load(spark, sf_dir, "events")
    lo, hi = "2024-01-05 00:00:00", "2024-01-05 06:00:00"
    counts = (
        e.filter(F.col("ts").between(lo, hi))
        .groupBy(bq.timestamp_trunc(F.col("ts"), "minute").alias("m"))
        .agg(F.countDistinct("user_id").alias("actors"))
    )
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(lo).cast("timestamp"),
                F.lit(hi).cast("timestamp"),
                F.expr("INTERVAL 1 MINUTE"),
            )
        ).alias("ts_minute")
    )
    return spine.join(counts, spine.ts_minute == counts.m, "left").select(
        "ts_minute",
        F.coalesce(F.col("actors"), F.lit(0)).alias("actors_observed"),
        F.col("m").isNull().alias("gap_filled"),
    )


@q(
    "m_anomaly_rolling_zscore",
    """
    WITH mins AS (
      SELECT event_type, date_trunc('minute', ts) AS ts_minute,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, ts_minute, n_events,
             CAST(count(*) OVER win AS BIGINT) AS win_n,
             CAST(COALESCE(sum(n_events) OVER win, 0) AS BIGINT) AS win_sum,
             CAST(COALESCE(sum(n_events * n_events) OVER win, 0) AS BIGINT) AS win_sumsq
      FROM mins
      WINDOW win AS (PARTITION BY event_type ORDER BY ts_minute
                     ROWS BETWEEN 60 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, ts_minute, n_events, win_n, win_sum,
           (win_n >= 30 AND
            (n_events * win_n - win_sum) * (n_events * win_n - win_sum) * (win_n - 1)
              > 9 * win_n * (win_n * win_sumsq - win_sum * win_sum)) AS is_anomaly,
           (n_events * win_n > win_sum) AS above_mean
    FROM w
    """,
)
def m_anomaly_rolling_zscore(spark, sf_dir):
    """Rolling z-score anomaly flags over the per-minute event-count series
    — the alerting pass that runs on top of every operational metric (M1's
    trips-per-minute included): a minute is anomalous when its count sits
    more than 3 sample standard deviations from the trailing-60-observation
    mean (trailing EXCLUDES the current row; windows with under 30
    observations stay unflagged as warmup).

    The 3-sigma test is evaluated in EXACT integer arithmetic — the float
    form (x - mean)^2 > 9*var is cross-multiplied into
    (x*n - sum)^2 * (n-1) > 9*n*(n*sumsq - sum^2), all BIGINT — so the
    flag can't flip on engine float rounding and the whole row hashes.
    Windows are per-series (PARTITION BY event_type): each series windows
    independently, so the operator parallelizes across series — the
    per-series sort is the standard time-series layout, not a global one.
    Gaps: the window is over OBSERVED minutes (compose with
    m1_gapfill_spine upstream for strict wall-clock windows)."""
    e = load(spark, sf_dir, "events")
    mins = e.groupBy(
        "event_type", bq.timestamp_trunc(F.col("ts"), "minute").alias("ts_minute")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    win = (
        Window.partitionBy("event_type")
        .orderBy("ts_minute")
        .rowsBetween(-60, -1)
    )
    w = mins.select(
        "event_type",
        "ts_minute",
        "n_events",
        F.count(F.lit(1)).over(win).cast("long").alias("win_n"),
        F.coalesce(F.sum("n_events").over(win), F.lit(0)).cast("long").alias("win_sum"),
        F.coalesce(F.sum(F.col("n_events") * F.col("n_events")).over(win), F.lit(0))
        .cast("long")
        .alias("win_sumsq"),
    )
    dev = F.col("n_events") * F.col("win_n") - F.col("win_sum")
    var_scaled = F.col("win_n") * F.col("win_sumsq") - F.col("win_sum") * F.col("win_sum")
    return w.select(
        "event_type",
        "ts_minute",
        "n_events",
        "win_n",
        "win_sum",
        (
            (F.col("win_n") >= 30)
            & (dev * dev * (F.col("win_n") - 1) > 9 * F.col("win_n") * var_scaled)
        ).alias("is_anomaly"),
        (dev > 0).alias("above_mean"),
    )


@q(
    "m1_gapfill_interpolate",
    """
    WITH b AS (
      SELECT date_trunc('minute', ts) AS m, count(DISTINCT user_id) AS actors
      FROM events
      WHERE ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-05 06:00:00'
      GROUP BY 1
    ),
    spine AS (
      SELECT unnest(generate_series(TIMESTAMP '2024-01-05 00:00:00',
                                    TIMESTAMP '2024-01-05 06:00:00',
                                    INTERVAL 1 MINUTE)) AS ts_minute
    ),
    j AS (
      SELECT CAST(s.ts_minute AS TIMESTAMP) AS ts_minute, b.actors,
             epoch_us(CAST(s.ts_minute AS TIMESTAMP)) // 60000000 AS i
      FROM spine s LEFT JOIN b ON b.m = s.ts_minute
    ),
    w AS (
      SELECT ts_minute, actors, i,
             last_value(actors IGNORE NULLS) OVER
               (ORDER BY ts_minute ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pa,
             last_value(CASE WHEN actors IS NOT NULL THEN i END IGNORE NULLS) OVER
               (ORDER BY ts_minute ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pi,
             first_value(actors IGNORE NULLS) OVER
               (ORDER BY ts_minute ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS na,
             first_value(CASE WHEN actors IS NOT NULL THEN i END IGNORE NULLS) OVER
               (ORDER BY ts_minute ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ni
      FROM j
    )
    SELECT ts_minute, (actors IS NOT NULL) AS observed,
           CAST(CASE WHEN actors IS NOT NULL THEN actors
                     WHEN pa IS NULL OR na IS NULL THEN NULL
                     ELSE pa * (ni - i) + na * (i - pi) END AS BIGINT) AS interp_num,
           CAST(CASE WHEN actors IS NOT NULL THEN 1
                     WHEN pa IS NULL OR na IS NULL THEN NULL
                     ELSE ni - pi END AS BIGINT) AS interp_den
    FROM w
    """,
)
def m1_gapfill_interpolate(spark, sf_dir):
    """Gap-filled minutely series with LINEAR INTERPOLATION across the gaps
    — the time-series repair step downstream charts and anomaly detectors
    want (m1_gapfill_spine's zeros say "nothing observed"; interpolation
    says "what the level plausibly was"). Missing minutes get the linear
    blend of the nearest observed neighbors; edge gaps (no neighbor on one
    side) stay NULL rather than extrapolating.

    Emitted as an exact integer fraction (interp_num / interp_den with
    interp_den = gap span in minutes) — no float division anywhere, so the
    value hash is engine-exact and the consumer chooses its own rounding.
    The neighbor scan is first/last IGNORE NULLS over the spine — a
    single-partition window over SPINE rows (the 361-minute reporting
    window — metadata-sized, not corpus-sized; the corpus-sized work is the
    per-minute aggregate, which shuffles on the minute key)."""
    e = load(spark, sf_dir, "events")
    lo, hi = "2024-01-05 00:00:00", "2024-01-05 06:00:00"
    counts = (
        e.filter(F.col("ts").between(lo, hi))
        .groupBy(bq.timestamp_trunc(F.col("ts"), "minute").alias("m"))
        .agg(F.countDistinct("user_id").alias("actors"))
    )
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(lo).cast("timestamp"),
                F.lit(hi).cast("timestamp"),
                F.expr("INTERVAL 1 MINUTE"),
            )
        ).alias("ts_minute")
    )
    j = spine.join(counts, spine.ts_minute == counts.m, "left").select(
        "ts_minute",
        "actors",
        F.expr("unix_timestamp(ts_minute) div 60").alias("i"),
    )
    w_prev = Window.orderBy("ts_minute").rowsBetween(Window.unboundedPreceding, 0)
    w_next = Window.orderBy("ts_minute").rowsBetween(0, Window.unboundedFollowing)
    obs_i = F.when(F.col("actors").isNotNull(), F.col("i"))
    g = j.select(
        "ts_minute",
        "actors",
        "i",
        F.last("actors", ignorenulls=True).over(w_prev).alias("pa"),
        F.last(obs_i, ignorenulls=True).over(w_prev).alias("pi"),
        F.first("actors", ignorenulls=True).over(w_next).alias("na"),
        F.first(obs_i, ignorenulls=True).over(w_next).alias("ni"),
    )
    edge = F.col("pa").isNull() | F.col("na").isNull()
    return g.select(
        "ts_minute",
        F.col("actors").isNotNull().alias("observed"),
        F.when(F.col("actors").isNotNull(), F.col("actors"))
        .when(edge, F.lit(None))
        .otherwise(
            F.col("pa") * (F.col("ni") - F.col("i"))
            + F.col("na") * (F.col("i") - F.col("pi"))
        )
        .cast("long")
        .alias("interp_num"),
        F.when(F.col("actors").isNotNull(), F.lit(1))
        .when(edge, F.lit(None))
        .otherwise(F.col("ni") - F.col("pi"))
        .cast("long")
        .alias("interp_den"),
    )


@q(
    "m5_analog_headways",
    """
    WITH seen AS (
      SELECT date_trunc('second', ts) AS pass_ts, event_type, user_id
      FROM events
      WHERE event_type = 'click' AND CAST(ts AS DATE) = DATE '2024-01-10'
    ),
    dedup AS (SELECT * FROM seen
              QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY pass_ts) = 1),
    ordered AS (SELECT *, row_number() OVER (ORDER BY pass_ts, user_id) AS rn,
                       lag(pass_ts) OVER (ORDER BY pass_ts, user_id) AS prev_ts
                FROM dedup)
    SELECT user_id, pass_ts,
           CASE WHEN prev_ts IS NULL THEN NULL
                ELSE CAST((epoch_us(pass_ts) - epoch_us(prev_ts)
                      - ((epoch_us(pass_ts) - epoch_us(prev_ts)) % 1000000)) // 1000000 AS BIGINT)
           END AS headway_s
    FROM ordered WHERE rn > 1
    """,
)
def m5_analog(spark, sf_dir):
    """M5 shape (metrics_guide.md:168-201): screenline filter -> QUALIFY-style
    dedup (W2/D8) -> global sequence (W1) -> LAG headway (W3) -> rn>1 (P7)."""
    e = load(spark, sf_dir, "events")
    seen = e.filter(
        (F.col("event_type") == "click") & (F.to_date("ts") == F.lit("2024-01-10").cast("date"))
    ).select(
        bq.timestamp_trunc(F.col("ts"), "second").alias("pass_ts"), "event_type", "user_id"
    )
    w_dedup = Window.partitionBy("user_id").orderBy("pass_ts")
    dedup = seen.withColumn("r", F.row_number().over(w_dedup)).filter("r = 1").drop("r")
    w_global = Window.orderBy("pass_ts", "user_id")
    ordered = dedup.select(
        "user_id",
        "pass_ts",
        F.row_number().over(w_global).alias("rn"),
        bq.timestamp_diff(
            F.col("pass_ts"), F.lag("pass_ts").over(w_global), "SECOND"
        ).alias("headway_s"),
    )
    return ordered.filter(F.col("rn") > 1).drop("rn")


@q(
    "m4_analog_terminal_otp",
    """
    WITH actual AS (
      SELECT user_id, max(ts) AS actual_end
      FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    sched AS (
      SELECT user_id, max(ts) AS sched_end
      FROM events WHERE event_type = 'view' GROUP BY 1
    )
    SELECT CAST(actual_end AS DATE) AS service_day,
           COUNT(*) AS n_users,
           ROUND(AVG(CASE WHEN actual_end <= sched_end + INTERVAL 10 MINUTE
                          THEN 1 ELSE 0 END), 6) AS otp_rate
    FROM actual JOIN sched USING (user_id)
    GROUP BY 1
    """,
)
def m4_analog(spark, sf_dir):
    """M4 shape (metrics_guide.md:140-166): terminal event per key via argmax
    (A5), USING-join against the schedule (J5), threshold rate (A8)."""
    e = load(spark, sf_dir, "events")
    actual = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.max("ts").alias("actual_end"))
    )
    sched = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.max("ts").alias("sched_end"))
    )
    on_time = F.when(
        F.col("actual_end") <= F.col("sched_end") + F.expr("INTERVAL 10 MINUTE"), 1
    ).otherwise(0)
    return (
        actual.join(sched, "user_id")
        .groupBy(F.col("actual_end").cast("date").alias("service_day"))
        .agg(
            F.count("*").alias("n_users"),
            F.round(F.avg(on_time), 6).alias("otp_rate"),
        )
    )


@q(
    "m7_analog_run_time",
    """
    WITH ta AS (
      SELECT user_id, min(ts) AS ts_a
      FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    tb AS (
      SELECT user_id, min(ts) AS ts_b
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT user_id, ts_a, ts_b,
           CAST((epoch_us(ts_b) - epoch_us(ts_a)
                 - ((epoch_us(ts_b) - epoch_us(ts_a)) % 1000000)) // 1000000 AS BIGINT)
             AS run_s
    FROM ta JOIN tb USING (user_id)
    WHERE ts_b >= ts_a
    """,
)
def m7_analog(spark, sf_dir):
    """M7 shape (metrics_guide.md:216-238): first event per key at A and B
    (A5 argmin), equi join on the key with a range residual (J6), truncated
    second diff (F8/D9)."""
    e = load(spark, sf_dir, "events")
    ta = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_a"))
    )
    tb = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_b"))
    )
    return (
        ta.join(tb, "user_id")
        .filter(F.col("ts_b") >= F.col("ts_a"))
        .select(
            "user_id",
            "ts_a",
            "ts_b",
            bq.timestamp_diff(F.col("ts_b"), F.col("ts_a"), "SECOND").alias("run_s"),
        )
    )


@q(
    "m12_analog_wait_assessment",
    """
    WITH obs AS (
      SELECT user_id, ts,
             row_number() OVER w AS rn,
             CAST((epoch_us(ts) - epoch_us(lag(ts) OVER w)
                   - ((epoch_us(ts) - epoch_us(lag(ts) OVER w)) % 1000000)) // 1000000 AS BIGINT)
               AS obs_headway_s
      FROM events WHERE event_type = 'click'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sch AS (
      SELECT user_id, row_number() OVER w AS rn,
             CAST((epoch_us(ts) - epoch_us(lag(ts) OVER w)
                   - ((epoch_us(ts) - epoch_us(lag(ts) OVER w)) % 1000000)) // 1000000 AS BIGINT)
               AS sch_headway_s
      FROM events WHERE event_type = 'view'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT obs.user_id,
           COUNT(*) AS n_intervals,
           ROUND(AVG(CASE WHEN obs_headway_s <= sch_headway_s + 120 THEN 1 ELSE 0 END), 6)
             AS wait_assessment
    FROM obs JOIN sch ON obs.user_id = sch.user_id AND obs.rn = sch.rn
    WHERE obs_headway_s IS NOT NULL AND sch_headway_s IS NOT NULL
    GROUP BY 1
    """,
)
def m12_analog(spark, sf_dir):
    """M12 shape (metrics_guide.md:322-377): two independent LAG streams
    (W3 x2), positionally joined (J5), threshold rate (A8)."""
    e = load(spark, sf_dir, "events")

    def headways(event_type: str, out: str) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return (
            e.filter(F.col("event_type") == event_type)
            .select(
                "user_id",
                F.row_number().over(w).alias("rn"),
                bq.timestamp_diff(F.col("ts"), F.lag("ts").over(w), "SECOND").alias(out),
            )
        )

    obs = headways("click", "obs_headway_s")
    sch = headways("view", "sch_headway_s")
    ok = F.when(F.col("obs_headway_s") <= F.col("sch_headway_s") + 120, 1).otherwise(0)
    return (
        obs.join(sch, ["user_id", "rn"])
        .filter(F.col("obs_headway_s").isNotNull() & F.col("sch_headway_s").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_intervals"),
            F.round(F.avg(ok), 6).alias("wait_assessment"),
        )
    )


@q(
    "m6_analog_dwell",
    """
    WITH spans AS (
      SELECT user_id, CAST(ts AS DATE) AS d, min(ts) AS arr, max(ts) AS dep
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    )
    SELECT user_id, d AS service_day,
           CAST((epoch_us(dep) - epoch_us(arr)
                 - ((epoch_us(dep) - epoch_us(arr)) % 1000000)) // 1000000 AS BIGINT) AS dwell_s
    FROM spans
    WHERE arr IS NOT NULL AND dep IS NOT NULL AND dep >= arr
    """,
)
def m6_analog(spark, sf_dir):
    """M6 shape (metrics_guide.md:203-214): paired arrival/departure per key
    (P4 null guards), truncated second diff (F8/D9)."""
    e = load(spark, sf_dir, "events")
    spans = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").cast("date").alias("service_day"))
        .agg(F.min("ts").alias("arr"), F.max("ts").alias("dep"))
    )
    return spans.filter(
        F.col("arr").isNotNull() & F.col("dep").isNotNull() & (F.col("dep") >= F.col("arr"))
    ).select(
        "user_id",
        "service_day",
        bq.timestamp_diff(F.col("dep"), F.col("arr"), "SECOND").alias("dwell_s"),
    )


@q(
    "m8_analog_excess_delay",
    """
    WITH d AS (
      SELECT event_type,
             CAST((epoch_us(ts) - epoch_us(date_trunc('hour', ts))
                   - ((epoch_us(ts) - epoch_us(date_trunc('hour', ts))) % 1000000)) // 1000000 AS BIGINT)
               AS delay_s
      FROM events
    )
    SELECT event_type,
           CAST(quantile_cont(delay_s, 0.5) AS DOUBLE) AS p50_s,
           CAST(quantile_cont(delay_s, 0.9) AS DOUBLE) AS p90_s,
           COUNT(*) AS n
    FROM d GROUP BY 1
    """,
)
def m8_analog(spark, sf_dir):
    """M8 shape (metrics_guide.md:240-275): delay vs a schedule anchor, then
    p50/p90 per group — exact percentile (D7: APPROX_QUANTILES differs by
    sketch, so correctness uses exact; percentile_approx stays the scale
    path)."""
    e = load(spark, sf_dir, "events")
    delay = bq.timestamp_diff(
        F.col("ts"), bq.timestamp_trunc(F.col("ts"), "hour"), "SECOND"
    )
    return (
        e.select("event_type", delay.alias("delay_s"))
        .groupBy("event_type")
        .agg(
            F.expr("percentile(delay_s, 0.5)").alias("p50_s"),
            F.expr("percentile(delay_s, 0.9)").alias("p90_s"),
            F.count("*").alias("n"),
        )
    )


@q(
    "m10_analog_added_share",
    """
    WITH flags AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS is_added,
             max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS is_canceled
      FROM events GROUP BY 1
    )
    SELECT COUNT(*) AS n_total,
           ROUND(AVG(CAST(is_added AS DOUBLE)), 6) AS added_pct,
           ROUND(AVG(CAST(is_canceled AS DOUBLE)), 6) AS canceled_pct
    FROM flags
    """,
)
def m10_analog(spark, sf_dir):
    """M10 shape (metrics_guide.md:296-307): per-entity boolean flags rolled
    up to population shares (A8 over the trip-grain rollup)."""
    e = load(spark, sf_dir, "events")
    flags = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("is_added"),
        F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias("is_canceled"),
    )
    return flags.agg(
        F.count("*").alias("n_total"),
        F.round(F.avg(F.col("is_added").cast("double")), 6).alias("added_pct"),
        F.round(F.avg(F.col("is_canceled").cast("double")), 6).alias("canceled_pct"),
    )


@q(
    "m9_analog_completeness",
    """
    WITH agg AS (
      SELECT user_id, count_if(value > 50) AS high_seen
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS users_total,
           CAST(count_if(high_seen >= 2) AS BIGINT) AS users_with_2plus,
           CAST(count_if(high_seen >= 2) * 1000000 // NULLIF(COUNT(*), 0) AS BIGINT) AS completeness_ppm
    FROM agg
    """,
)
def m9_analog(spark, sf_dir):
    """M9 shape (metrics_guide.md:277-294): two-level agg with COUNTIF +
    SAFE_DIVIDE. Rate emitted as integer parts-per-million (pure integer
    division) — rounded doubles hash-diverged two rounds running (r2)."""
    e = load(spark, sf_dir, "events")
    agg = e.groupBy("user_id").agg(bq.countif(F.col("value") > 50).alias("high_seen"))
    return agg.agg(
        F.count("*").alias("users_total"),
        bq.countif(F.col("high_seen") >= 2).alias("users_with_2plus"),
        F.expr(
            "CAST(count_if(high_seen >= 2) * 1000000L div NULLIF(COUNT(*), 0) AS BIGINT)"
        ).alias("completeness_ppm"),
    )


@q(
    "m3_analog_service_delivered",
    """
    WITH wl AS (
      SELECT o_orderkey, o_orderdate FROM orders
      WHERE o_orderdate BETWEEN TIMESTAMP '1996-03-01' AND TIMESTAMP '1996-03-31'
        AND dayofweek(CAST(o_orderdate AS DATE)) + 1 BETWEEN 2 AND 6
    ),
    fln AS (
      SELECT l_orderkey, MIN(l_linenumber) AS min_ln
      FROM lineitem GROUP BY 1
    ),
    sched AS (
      SELECT wl.o_orderkey,
             wl.o_orderdate
               + CAST(split_part(printf('%02d:30:00', CAST(l.l_quantity AS INTEGER)), ':', 1) AS BIGINT) * INTERVAL 1 HOUR
               + CAST(split_part(printf('%02d:30:00', CAST(l.l_quantity AS INTEGER)), ':', 2) AS BIGINT) * INTERVAL 1 MINUTE
               + CAST(split_part(printf('%02d:30:00', CAST(l.l_quantity AS INTEGER)), ':', 3) AS BIGINT) * INTERVAL 1 SECOND
             AS sched_ts
      FROM wl
      JOIN fln ON fln.l_orderkey = wl.o_orderkey
      JOIN lineitem l ON l.l_orderkey = wl.o_orderkey
       AND CAST(l.l_linenumber AS VARCHAR) = CAST(fln.min_ln AS VARCHAR)
    ),
    actual AS (
      SELECT DISTINCT l_orderkey AS o_orderkey, 1 AS delivered_flag FROM lineitem
      WHERE l_shipdate BETWEEN TIMESTAMP '1996-03-01' AND TIMESTAMP '1996-05-31'
    )
    SELECT CAST(s.sched_ts AS DATE) AS service_day,
           COUNT(DISTINCT s.o_orderkey) AS scheduled,
           COUNT(DISTINCT CASE WHEN delivered_flag = 1 THEN s.o_orderkey END) AS delivered,
           ROUND(CAST(COUNT(DISTINCT CASE WHEN delivered_flag = 1 THEN s.o_orderkey END) AS DOUBLE)
                 / NULLIF(COUNT(DISTINCT s.o_orderkey), 0), 6) AS delivered_pct
    FROM sched s LEFT JOIN actual a ON a.o_orderkey = s.o_orderkey
    GROUP BY 1
    """,
)
def m3_analog(spark, sf_dir):
    """M3 shape (metrics_guide.md:54-138), the richest composition: weekday
    calendar filter (F14), first-unit argmin (A4), re-join through a
    cross-type string cast key (J7/D6), schedule timestamp assembled from an
    HH:MM:SS string by split + interval-add where HH can exceed 23 (F13/D10
    — quantities reach 50), scheduled-vs-delivered distinct counts with
    SAFE_DIVIDE (A6/A10, J5-left)."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    wl = orders.filter(
        F.col("o_orderdate").between("1996-03-01", "1996-03-31")
        # Spark dayofweek is 1=Sunday (same as BigQuery F14); DuckDB's is
        # 0=Sunday, hence the +1 on the oracle side only
        & F.dayofweek(F.col("o_orderdate").cast("date")).between(2, 6)
    ).select("o_orderkey", "o_orderdate")
    fln = lineitem.groupBy("l_orderkey").agg(F.min("l_linenumber").alias("min_ln"))
    clock = F.format_string("%02d:30:00", F.col("l_quantity").cast("int"))
    sched = (
        wl.join(fln, fln["l_orderkey"] == wl["o_orderkey"])
        .join(
            lineitem.alias("l"),
            (F.col("l.l_orderkey") == wl["o_orderkey"])
            & (
                F.col("l.l_linenumber").cast("string")
                == F.col("min_ln").cast("string")
            ),
        )
        .select(
            wl["o_orderkey"],
            bq.gtfs_time_to_ts(
                F.col("o_orderdate").cast("date"), clock
            ).alias("sched_ts"),
        )
    )
    actual = (
        lineitem.filter(F.col("l_shipdate").between("1996-03-01", "1996-05-31"))
        .select(F.col("l_orderkey").alias("o_orderkey"))
        .distinct()
        .withColumn("delivered_flag", F.lit(1))
    )
    return (
        sched.join(actual, "o_orderkey", "left")
        .groupBy(F.col("sched_ts").cast("date").alias("service_day"))
        .agg(
            F.countDistinct("o_orderkey").alias("scheduled"),
            F.countDistinct(
                F.when(F.col("delivered_flag") == 1, F.col("o_orderkey"))
            ).alias("delivered"),
            F.round(
                bq.safe_divide(
                    F.countDistinct(
                        F.when(F.col("delivered_flag") == 1, F.col("o_orderkey"))
                    ).cast("double"),
                    F.countDistinct("o_orderkey"),
                ),
                6,
            ).alias("delivered_pct"),
        )
    )


@q(
    "m11_analog_latency",
    """
    SELECT event_type, date_trunc('hour', ts) AS ts_hour,
           ROUND(AVG(CAST((epoch_us(ts) - epoch_us(date_trunc('minute', ts))
                - ((epoch_us(ts) - epoch_us(date_trunc('minute', ts))) % 1000000)) // 1000000 AS BIGINT)), 6) AS avg_subminute_s
    FROM events GROUP BY 1, 2
    """,
)
def m11_analog(spark, sf_dir):
    """M11 shape (metrics_guide.md:309-320): AVG of a truncated second diff
    per truncated bucket."""
    e = load(spark, sf_dir, "events")
    lat = bq.timestamp_diff(F.col("ts"), bq.timestamp_trunc(F.col("ts"), "minute"), "SECOND")
    return e.groupBy(
        "event_type", bq.timestamp_trunc(F.col("ts"), "hour").alias("ts_hour")
    ).agg(F.round(F.avg(lat), 6).alias("avg_subminute_s"))


# ---------------------------------------------------------------------------
# Product-analytics shapes (r5): funnel, cohort retention, temporal SCD2
# lookup — the three analytic compositions every warehouse workload runs
# that the reference's metric cookbook stops short of. All integer/exact
# outputs, fully oracle-checked.
# ---------------------------------------------------------------------------
@q(
    "a_event_funnel",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view'
      GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY 1
    ),
    agg AS (
      SELECT COUNT(*) AS n1,
             COUNT(c.user_id) AS n2,
             COUNT(p.user_id) AS n3
      FROM v LEFT JOIN c ON c.user_id = v.user_id
             LEFT JOIN p ON p.user_id = v.user_id
    )
    SELECT stage, CAST(n_users AS BIGINT) AS n_users,
           CAST(n_users * 1000000 // NULLIF(n1, 0) AS BIGINT) AS conv_ppm
    FROM (
      SELECT '1_view' AS stage, n1 AS n_users, n1 FROM agg
      UNION ALL SELECT '2_click', n2, n1 FROM agg
      UNION ALL SELECT '3_purchase', n3, n1 FROM agg
    )
    ORDER BY stage
    """,
)
def a_event_funnel(spark, sf_dir):
    """Ordered-sequence funnel (view -> click -> purchase, strictly
    increasing timestamps): per-stage user counts + conversion ppm vs the
    top of the funnel. Shape: three user-keyed aggregates chained by
    equi-joins with a time residual — one shuffle key throughout (AQE
    co-partitions the chain), never a per-user subquery."""
    e = load(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    agg = (
        v.join(c.select("user_id", F.lit(1).alias("__c")), "user_id", "left")
        .join(p.select("user_id", F.lit(1).alias("__p")), "user_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n1"),
            F.count("__c").alias("n2"),
            F.count("__p").alias("n3"),
        )
    )
    return (
        agg.select(
            F.expr(
                "stack(3, '1_view', n1, '2_click', n2, '3_purchase', n3)"
                " AS (stage, n_users)"
            ),
            F.col("n1"),
        )
        .select(
            "stage",
            F.col("n_users").cast("long").alias("n_users"),
            F.expr("CAST(n_users * 1000000L div NULLIF(n1, 0) AS BIGINT)").alias(
                "conv_ppm"
            ),
        )
        .orderBy("stage")
    )


@q(
    "a_cohort_retention",
    """
    WITH wk AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week
      FROM events
    ),
    cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM wk GROUP BY 1),
    active AS (SELECT DISTINCT user_id, week FROM wk)
    SELECT c.cohort_week,
           CAST(a.week - c.cohort_week AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM active a JOIN cohort c ON c.user_id = a.user_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def a_cohort_retention(spark, sf_dir):
    """Weekly cohort retention matrix: cohort = a user's first active epoch
    week (integer 604800-second buckets — engine-identical arithmetic, no
    calendar-week convention drift), cell = distinct users from that cohort
    active at each later offset. Shape: one user-keyed min-aggregate
    broadcast back over the distinct activity relation; one shuffle each."""
    e = load(spark, sf_dir, "events")
    wk = e.select("user_id", F.expr(
        "CAST(CAST(floor(CAST(ts AS DOUBLE)) AS BIGINT) div 604800 AS BIGINT)"
    ).alias("week"))
    cohort = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    active = wk.distinct()
    return (
        active.join(cohort, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@q(
    "j_temporal_scd2_lookup",
    """
    WITH ordered AS (
      SELECT user_id, event_id, ts, value,
             lag(value) OVER w AS prev_value
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    chg AS (
      SELECT user_id, event_id, ts, value FROM ordered
      WHERE prev_value IS NULL OR value <> prev_value
    ),
    hist AS (
      SELECT user_id, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             CAST(round(value * 1000, 0) AS BIGINT) AS value_milli
      FROM chg
    )
    SELECT e.event_id, e.user_id, e.ts,
           h.valid_from AS version_valid_from, h.value_milli AS version_value_milli
    FROM events e
    JOIN hist h ON h.user_id = e.user_id
               AND e.ts >= h.valid_from
               AND (h.valid_to IS NULL OR e.ts < h.valid_to)
    WHERE e.event_type = 'purchase'
    """,
)
def j_temporal_scd2_lookup(spark, sf_dir):
    """Temporal dimension lookup: every purchase event joined to the SCD2
    version of its user that was valid AT the event's timestamp (the
    fact-to-SCD2-dim AS OF join every warehouse runs). Shape: equi-join on
    the key with an interval residual (J6) — the history side comes from
    the same scd2_from_events operator the snapshot entry gates."""
    from mta_rtf_dbt_spark.operators.scd2 import scd2_from_events

    e = load(spark, sf_dir, "events")
    hist = scd2_from_events(e, ["user_id"], ["ts", "event_id"], "value").select(
        F.col("user_id").alias("h_user"),
        "valid_from",
        "valid_to",
        F.round(F.col("value") * 1000, 0).cast("long").alias("value_milli"),
    )
    ev = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return ev.join(
        hist,
        (ev.user_id == F.col("h_user"))
        & (ev.ts >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (ev.ts < F.col("valid_to"))),
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("valid_from").alias("version_valid_from"),
        F.col("value_milli").alias("version_value_milli"),
    )


@q(
    "a_mad_outliers",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1
    ),
    dev AS (
      SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS ad
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           ROUND(CAST(any_value(d.med) AS DOUBLE), 6) AS median_value,
           ROUND(CAST(any_value(m.mad) AS DOUBLE), 6) AS mad_value,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (
               WHERE CAST(ROUND(d.ad * 1000000) AS BIGINT)
                     > 3 * CAST(ROUND(m.mad * 1000000) AS BIGINT)
           ) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
)
def a_mad_outliers(spark, sf_dir):
    """Robust outlier census per series: median / MAD (median absolute
    deviation) and the count of values beyond 3 MADs — the
    mean/stddev-free profile that heavy tails can't poison (the rolling
    z-score entry's batch-robust sibling). Two exact-percentile passes
    (production swaps percentile_approx per D7); the 3-MAD comparison
    micro-integerizes both sides (round(x*1e6) to BIGINT) before comparing
    — Spark F.percentile and DuckDB quantile_cont interpolate
    independently, and a raw double compare would let a 1-ulp difference
    flip a boundary row's outlier flag (r5 ADVICE). The released
    median/MAD round to 6dp per the float-output discipline."""
    e = load(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.percentile(F.col("value"), F.lit(0.5)).alias("med")
    )
    dev = e.join(med, "event_type").select(
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("ad"),
    )
    dev = persist(dev, eager=True)
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.col("ad"), F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.first("med"), 6).alias("median_value"),
            F.round(F.first("mad"), 6).alias("mad_value"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(
                    F.round(F.col("ad") * 1_000_000).cast("long")
                    > 3 * F.round(F.col("mad") * 1_000_000).cast("long"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


@q(
    "a_attribution_last_touch",
    """
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
               FROM events WHERE event_type = 'purchase'),
    v AS (SELECT event_id AS view_id, user_id, ts AS v_ts
          FROM events WHERE event_type = 'view'),
    joined AS (
      SELECT p.purchase_id, p.user_id, p.p_ts, v.view_id, v.v_ts,
             row_number() OVER (PARTITION BY p.purchase_id
                                ORDER BY v.v_ts DESC NULLS LAST,
                                         v.view_id DESC NULLS LAST) AS rn
      FROM p LEFT JOIN v
        ON v.user_id = p.user_id
       AND v.v_ts <= p.p_ts
       AND v.v_ts > p.p_ts - INTERVAL 7 DAY
    )
    SELECT purchase_id, user_id, view_id AS attributed_view_id,
           CASE WHEN view_id IS NULL THEN NULL
                ELSE CAST((epoch_us(p_ts) - epoch_us(v_ts)) // 1000000 AS BIGINT)
           END AS gap_s
    FROM joined WHERE rn = 1
    """,
)
def a_attribution_last_touch(spark, sf_dir):
    """Last-touch attribution: each purchase is credited to the same
    user's LATEST view within the 7-day lookback (ties broken by view id;
    purchases with no qualifying view stay unattributed, not dropped) —
    the canonical marketing-analytics join. One user-keyed interval join
    plus a per-purchase top-1 window; the interval bound keeps the join
    from degenerating into per-user cross products, and the same shape
    runs streaming as a watermarked interval join."""
    e = load(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    v = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    j = p.join(
        v,
        (F.col("v_user") == F.col("user_id"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") > F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
        "left",
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.col("v_ts").desc_nulls_last(), F.col("view_id").desc_nulls_last()
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "purchase_id",
            "user_id",
            F.col("view_id").alias("attributed_view_id"),
            bq.timestamp_diff(F.col("p_ts"), F.col("v_ts"), "SECOND").alias(
                "gap_s"
            ),
        )
    )


@q(
    "a_running_distinct_users",
    """
    WITH firsts AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS first_day FROM events GROUP BY 1
    ),
    daily_new AS (
      SELECT first_day AS d, CAST(count(*) AS BIGINT) AS new_users
      FROM firsts GROUP BY 1
    ),
    daily_active AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
      FROM events GROUP BY 1
    )
    SELECT a.d, a.active_users,
           COALESCE(n.new_users, 0) AS new_users,
           CAST(SUM(COALESCE(n.new_users, 0)) OVER (ORDER BY a.d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cumulative_distinct_users
    FROM daily_active a LEFT JOIN daily_new n USING (d)
    """,
)
def a_running_distinct_users(spark, sf_dir):
    """Running COUNT(DISTINCT) over time — the growth-curve metric naive
    windowing cannot express (COUNT(DISTINCT) OVER a running frame is
    either unsupported or quadratic). The standard exact decomposition:
    each user collapses to their FIRST-seen day (one map-combined min),
    daily new-user counts ride that, and the cumulative sum over the
    day-level series IS the running distinct count. Per-day active
    distinct counts come along for the DAU-vs-cumulative chart.

    Scale: two corpus aggregates (min per user, distinct per day) and a
    window over DAY-count rows (metadata-sized) — the quadratic re-count
    over growing prefixes never happens."""
    e = load(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.to_date(F.min("ts")).alias("first_day"))
    daily_new = firsts.groupBy(F.col("first_day").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    daily_active = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.countDistinct("user_id").cast("long").alias("active_users")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily_active.join(daily_new, "d", "left")
        .select(
            "d",
            "active_users",
            F.coalesce(F.col("new_users"), F.lit(0)).alias("new_users"),
        )
        .withColumn(
            "cumulative_distinct_users",
            F.sum("new_users").over(w).cast("long"),
        )
    )


@q(
    "a_winsorize_census",
    """
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.01) AS p01,
             quantile_cont(value, 0.99) AS p99
      FROM events GROUP BY 1
    ),
    m AS (
      SELECT e.event_type,
             CAST(round(e.value * 1000000, 0) AS BIGINT) AS v_micro,
             CAST(round(b.p01 * 1000000, 0) AS BIGINT) AS p01_micro,
             CAST(round(b.p99 * 1000000, 0) AS BIGINT) AS p99_micro,
             b.p01, b.p99
      FROM events e JOIN b USING (event_type)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE v_micro < p01_micro) AS BIGINT) AS n_clipped_low,
           CAST(count(*) FILTER (WHERE v_micro > p99_micro) AS BIGINT) AS n_clipped_high,
           ROUND(CAST(any_value(p01) AS DOUBLE), 6) AS p01,
           ROUND(CAST(any_value(p99) AS DOUBLE), 6) AS p99,
           CAST(round(SUM(least(greatest(v_micro, p01_micro), p99_micro)) / 1000.0, 0) AS BIGINT)
             AS winsorized_sum_milli
    FROM m
    GROUP BY event_type
    """,
)
def a_winsorize_census(spark, sf_dir):
    """Winsorization (clip at p01/p99) with a clipping census — the
    standard tail-taming preprocessing before training on heavy-tailed
    features; unlike trimming it keeps the rows, so counts downstream stay
    intact. Clip bounds are exact percentiles (production: approx per D7)
    joined back over the corpus.

    Engine-exactness: values AND bounds are micro-integerized (round*1e6 to
    BIGINT) before every comparison and before clipping — ``F.percentile``
    and ``quantile_cont`` interpolate independently, and a 1-ulp bound
    difference flips boundary rows' clip flags (the r6 sf1 rehearsal caught
    exactly that: n_clipped_high 2000 vs 2010 at 10x density; same class as
    the a_mad_outliers r5 ADVICE fix). The winsorized sum accumulates exact
    micro BIGINTs and divides down to milli ONCE at the end — order-free
    and identical in both engines. Bounds display at 6dp per the
    float-output discipline (micro rounding is finer than display grain)."""
    e = load(spark, sf_dir, "events")
    b = e.groupBy("event_type").agg(
        F.percentile(F.col("value"), F.lit(0.01)).alias("p01"),
        F.percentile(F.col("value"), F.lit(0.99)).alias("p99"),
    )
    j = e.join(b, "event_type")
    v_micro = F.round(F.col("value") * 1000000, 0).cast("long")
    p01_micro = F.round(F.col("p01") * 1000000, 0).cast("long")
    p99_micro = F.round(F.col("p99") * 1000000, 0).cast("long")
    clipped_micro = F.least(F.greatest(v_micro, p01_micro), p99_micro)
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(v_micro < p01_micro, 1).otherwise(0))
        .cast("long")
        .alias("n_clipped_low"),
        F.sum(F.when(v_micro > p99_micro, 1).otherwise(0))
        .cast("long")
        .alias("n_clipped_high"),
        F.round(F.first("p01"), 6).alias("p01"),
        F.round(F.first("p99"), 6).alias("p99"),
        F.round(F.sum(clipped_micro) / 1000.0, 0)
        .cast("long")
        .alias("winsorized_sum_milli"),
    )


@q(
    "a_label_entropy",
    """
    WITH c AS (
      SELECT CAST(ts AS DATE) AS d, event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    t AS (SELECT d, CAST(sum(n) AS BIGINT) AS total FROM c GROUP BY 1)
    SELECT c.d,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(any_value(t.total) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(-1.0 * n * ln(n * 1.0 / t.total) * 1000000.0 / t.total) AS BIGINT)) AS BIGINT)
             AS entropy_micro_nats
    FROM c JOIN t USING (d)
    GROUP BY c.d
    """,
)
def a_label_entropy(spark, sf_dir):
    """Per-day Shannon entropy of the event-type distribution in
    micro-nats — the class-balance signal a dataset monitor alarms on (a
    collapsing entropy means one class is swallowing the stream). Each
    class's -p·ln(p) term is micro-integerized individually (one ln per
    class — the float-hash discipline) and the per-day entropy is the
    order-free bigint sum of class terms; the class relation is
    (day x class)-sized, so the whole computation after the one corpus
    aggregate is metadata-scale."""
    e = load(spark, sf_dir, "events")
    c = e.groupBy(F.to_date("ts").alias("d"), "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    t = c.groupBy("d").agg(F.sum("n").cast("long").alias("total"))
    term = (
        F.round(
            F.lit(-1.0)
            * F.col("n")
            * F.log(F.col("n") / F.col("total"))
            * 1_000_000.0
            / F.col("total")
        )
        .cast("long")
    )
    return (
        c.join(t, "d")
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.first("total").alias("n_rows"),
            F.sum(term).cast("long").alias("entropy_micro_nats"),
        )
    )


# normalized 0.75-decay FIR weights in milli units (sum exactly 1000);
# precomputed so the smoother is pure integer arithmetic in both engines
_EWMA_W = [279, 208, 156, 117, 88, 66, 49, 37]


@q(
    "a_ewma_smoothed",
    f"""
    WITH mins AS (
      SELECT event_type, date_trunc('minute', ts) AS ts_minute,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, ts_minute, n_events,
             {", ".join(f"lag(n_events, {k}) OVER w AS l{k}" for k in range(1, 8))},
             row_number() OVER w AS rn
      FROM mins
      WINDOW w AS (PARTITION BY event_type ORDER BY ts_minute)
    )
    SELECT event_type, ts_minute, n_events,
           CASE WHEN rn >= 8 THEN
             CAST({" + ".join(f"l{k} * {w}" if k else f"n_events * {w}" for k, w in enumerate(_EWMA_W))} AS BIGINT)
           END AS ewma_milli
    FROM lagged
    """,
)
def a_ewma_smoothed(spark, sf_dir):
    """Exponentially-weighted smoothing of the per-minute count series as a
    FIXED 8-tap FIR filter: the 0.75-decay weights are precomputed,
    normalized integer millis (summing exactly 1000), so the smoothed
    value is a pure integer dot product over the lag window — the
    recurrence form of EWMA is unbounded history and float feedback,
    useless for distributed replay; the truncated-FIR form is what a
    backfill-safe pipeline actually ships (warmup rows, lacking 8
    observations, stay NULL). Per-series windows parallelize across
    series, same layout as the rolling z-score."""
    e = load(spark, sf_dir, "events")
    mins = e.groupBy(
        "event_type", bq.timestamp_trunc(F.col("ts"), "minute").alias("ts_minute")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("ts_minute")
    lagged = mins.select(
        "event_type",
        "ts_minute",
        "n_events",
        *[F.lag("n_events", k).over(w).alias(f"l{k}") for k in range(1, 8)],
        F.row_number().over(w).alias("rn"),
    )
    dot = sum(
        (F.col(f"l{k}") if k else F.col("n_events")) * w_
        for k, w_ in enumerate(_EWMA_W)
    )
    return lagged.select(
        "event_type",
        "ts_minute",
        "n_events",
        F.when(F.col("rn") >= 8, dot).cast("long").alias("ewma_milli"),
    )


@q(
    "a_market_basket_rules",
    """
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM baskets),
    item AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS item_n
      FROM baskets GROUP BY 1
    ),
    pair AS (
      SELECT a.l_partkey AS ant, b.l_partkey AS cons, CAST(count(*) AS BIGINT) AS pair_n
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    )
    SELECT p.ant, p.cons, p.pair_n,
           CAST(p.pair_n * 1000000 // ia.item_n AS BIGINT) AS confidence_ppm,
           CAST(p.pair_n * n.n_baskets * 1000000 // (ia.item_n * ic.item_n) AS BIGINT) AS lift_ppm
    FROM pair p
    JOIN item ia ON ia.l_partkey = p.ant
    JOIN item ic ON ic.l_partkey = p.cons
    CROSS JOIN n
    WHERE p.pair_n >= 3
    """,
)
def a_market_basket_rules(spark, sf_dir):
    """Association rules over order baskets (ant -> cons for parts bought
    together): support, confidence = P(cons|ant), and lift =
    P(ant,cons)/(P(ant)P(cons)), all as integer ppm via a shared
    cross-multiplied form — the co-occurrence recommendation baseline.
    Pairs come from the per-basket self-join (baskets are small, so the
    pair relation is bounded per key); the min-support cut (pair_n >= 3)
    is the standard Apriori pruning that keeps the rule set
    signal-bearing and the output bounded.

    Scale: distinct-ify first (multi-line items collapse), one
    basket-keyed self-join, two map-combined aggregates, broadcast item
    counts onto the pair relation. lift's product term
    n_baskets*pair_n*1e6 stays under 2^63 for corpora to ~10^9 baskets at
    these support floors."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n_b = li.select("l_orderkey").distinct().count()
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("item_n"))
    a, b = li.alias("a"), li.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("ant"), F.col("b.l_partkey").alias("cons")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("pair_n"))
        .filter(F.col("pair_n") >= 3)
    )
    ia = item.select(F.col("l_partkey").alias("ant"), F.col("item_n").alias("ant_n"))
    ic = item.select(F.col("l_partkey").alias("cons"), F.col("item_n").alias("cons_n"))
    return (
        pair.join(ia, "ant")
        .join(ic, "cons")
        .select(
            "ant",
            "cons",
            "pair_n",
            F.expr("CAST(pair_n * 1000000 div ant_n AS BIGINT)").alias(
                "confidence_ppm"
            ),
            F.expr(
                f"CAST(pair_n * {n_b}L * 1000000 div (ant_n * cons_n) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


@q(
    "a_concurrency_sweepline",
    """
    WITH deltas AS (
      SELECT CAST(ts AS DATE) AS d, ts AS t, 1 AS delta, event_id FROM events
      UNION ALL
      SELECT CAST(ts AS DATE) AS d, ts + INTERVAL 5 MINUTE AS t, -1 AS delta, event_id
      FROM events
    ),
    swept AS (
      SELECT d, t,
             CAST(SUM(delta) OVER (PARTITION BY d ORDER BY t, delta, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS concurrent
      FROM deltas
    )
    SELECT d, CAST(max(concurrent) AS BIGINT) AS peak_concurrent,
           min(t) FILTER (WHERE concurrent = peak) AS peak_first_at
    FROM (SELECT *, max(concurrent) OVER (PARTITION BY d) AS peak FROM swept)
    GROUP BY d
    """,
)
def a_concurrency_sweepline(spark, sf_dir):
    """Peak concurrency by sweep-line: every event opens a 5-minute session
    interval; +1/-1 boundary deltas sorted in time with a running sum give
    the exact concurrent-session count at every boundary, and the per-day
    max is the capacity-planning number (with the first instant it was
    reached). Interval-overlap counting WITHOUT an interval self-join —
    the self-join form is O(n * overlap) and quadratic on busy days; the
    sweep is one sort per partition. Tie order at identical timestamps is
    pinned (ends before starts via delta, then event_id), so the running
    sum — and therefore the peak — is engine-deterministic.

    Scale: the sweep partitions by DAY under the attribute-to-start-day
    convention (an interval's -1 lands in the same partition as its +1,
    keeping every day's ledger balanced even when a session spills past
    midnight), so each day's sort is independent and parallel; the
    general cross-boundary form carries per-partition boundary state."""
    e = load(spark, sf_dir, "events")
    start = e.select(
        F.to_date("ts").alias("d"), F.col("ts").alias("t"), F.lit(1).alias("delta"), "event_id"
    )
    end = e.select(
        F.to_date("ts").alias("d"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("t"),
        F.lit(-1).alias("delta"),
        "event_id",
    )
    deltas = start.unionAll(end)
    w = (
        Window.partitionBy("d")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    swept = deltas.withColumn("concurrent", F.sum("delta").over(w).cast("long"))
    wd = Window.partitionBy("d")
    peaked = swept.withColumn("peak", F.max("concurrent").over(wd))
    return peaked.groupBy("d").agg(
        F.max("concurrent").cast("long").alias("peak_concurrent"),
        F.min(F.when(F.col("concurrent") == F.col("peak"), F.col("t"))).alias(
            "peak_first_at"
        ),
    )


@q(
    "a_event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    pairs AS (
      SELECT prev_type AS from_type, event_type AS to_type,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ),
    outs AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS out_n FROM pairs GROUP BY 1)
    SELECT p.from_type, p.to_type, p.n,
           CAST(p.n * 1000000 // o.out_n AS BIGINT) AS prob_ppm
    FROM pairs p JOIN outs o USING (from_type)
    """,
)
def a_event_transitions(spark, sf_dir):
    """First-order transition matrix over per-user event sequences — the
    Markov flow behind sankey/journey diagrams and the baseline for
    next-event prediction: consecutive-event pairs per user (one LAG over
    the per-user time order) counted into (from, to) cells with row-
    normalized probabilities in integer ppm. The per-user window
    parallelizes across users; the matrix is |event_types|^2-sized output
    from one corpus pass."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("from_type")
    ).filter(F.col("from_type").isNotNull())
    pairs = seq.groupBy(
        "from_type", F.col("event_type").alias("to_type")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    outs = pairs.groupBy("from_type").agg(F.sum("n").cast("long").alias("out_n"))
    return pairs.join(outs, "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.expr("CAST(n * 1000000 div out_n AS BIGINT)").alias("prob_ppm"),
    )


@q(
    "a_conversion_wilson",
    """
    WITH peru AS (
      SELECT CAST(ts AS DATE) AS d, user_id,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY 1, 2
    ),
    daily AS (
      SELECT d, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(converted) AS BIGINT) AS n_converted
      FROM peru GROUP BY 1
    )
    SELECT d, n_users, n_converted,
           CAST(n_converted * 1000000 // n_users AS BIGINT) AS rate_ppm,
           ROUND((n_converted * 1.0 / n_users + 1.9208 / n_users
                  - 1.96 * sqrt((n_converted * 1.0 / n_users) * (1 - n_converted * 1.0 / n_users) / n_users
                                + 0.9604 / (n_users * n_users)))
                 / (1 + 3.8416 / n_users), 6) AS wilson_lower
    FROM daily
    """,
)
def a_conversion_wilson(spark, sf_dir):
    """Daily conversion rate with the Wilson-score LOWER bound (z=1.96) —
    the sample-size-aware ranking statistic that stops a 1-of-1 day from
    outranking a 900-of-1000 day (raw rates can't tell confidence from
    luck; the Wilson bound is the standard fix for sorting by proportion).
    Conversion is per-USER (any purchase that day), so repeat purchases
    don't inflate the rate. The bound's sqrt is computed from identical
    double expressions in both engines and rounded once to 6dp (the
    float-output discipline); the raw rate ships as exact integer ppm
    alongside."""
    e = load(spark, sf_dir, "events")
    peru = e.groupBy(F.to_date("ts").alias("d"), "user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        )
    )
    daily = peru.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    p = F.col("n_converted") * 1.0 / F.col("n_users")
    n = F.col("n_users")
    wilson = (
        (p + 1.9208 / n - 1.96 * F.sqrt(p * (1 - p) / n + 0.9604 / (n * n)))
        / (1 + 3.8416 / n)
    )
    return daily.select(
        "d",
        "n_users",
        "n_converted",
        F.expr("CAST(n_converted * 1000000 div n_users AS BIGINT)").alias("rate_ppm"),
        F.round(wilson, 6).alias("wilson_lower"),
    )


@q(
    "m_feed_gap_detection",
    """
    WITH seq AS (
      SELECT event_type, ts,
             lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    gaps AS (
      SELECT event_type, prev_ts AS gap_start, ts AS gap_end,
             CAST((epoch_us(ts) - epoch_us(prev_ts)) // 1000000 AS BIGINT) AS gap_s
      FROM seq
      WHERE prev_ts IS NOT NULL AND ts - prev_ts > INTERVAL 30 MINUTE
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(max(gap_s) AS BIGINT) AS worst_gap_s,
           CAST(sum(gap_s) AS BIGINT) AS total_gap_s,
           min(gap_start) AS first_gap_start
    FROM gaps GROUP BY event_type
    """,
)
def m_feed_gap_detection(spark, sf_dir):
    """Feed-outage detection — the health check a GTFS-realtime consumer
    runs on its own ingest (the reference's snapshots arrive continuously;
    a silent feed gap corrupts every downstream headway/completeness
    metric before anyone notices the pipeline is 'green'). Per-series LAG
    over the event-time order flags inter-arrival gaps beyond the
    30-minute outage threshold and summarizes count / worst / total
    outage seconds per series with the first outage onset. Gap seconds
    use the engine's truncate-toward-zero diff discipline; per-series
    windows parallelize across series."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", "ts", F.lag("ts").over(w).alias("prev_ts")
    ).filter(
        F.col("prev_ts").isNotNull()
        & (F.col("ts") > F.col("prev_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    gaps = seq.select(
        "event_type",
        F.col("prev_ts").alias("gap_start"),
        bq.timestamp_diff(F.col("ts"), F.col("prev_ts"), "SECOND").alias("gap_s"),
    )
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.max("gap_s").cast("long").alias("worst_gap_s"),
        F.sum("gap_s").cast("long").alias("total_gap_s"),
        F.min("gap_start").alias("first_gap_start"),
    )
