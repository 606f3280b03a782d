"""Event-stream analytics over the ``events`` table.

These are the *batch* equivalents of the engine's Structured Streaming
operators (see ``distributed_api_etl_spark.streaming``): tumbling-window
aggregation, gap-based sessionization, and per-key top-k. The streaming
module reuses the same column expressions with ``readStream`` + watermark;
grading here uses the deterministic batch form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from distributed_api_etl_spark.functions.portable import (
    epoch_day,
    epoch_day_sql,
    pmod_sql,
)
from distributed_api_etl_spark.queries.registry import register, table

SESSION_GAP_MIN = 30


@register(
    "events_tumbling_window",
    oracle="""
    SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    bench=True,
    tags=("events", "streaming-batch"),
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
        ).agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum(F.col("value").cast(DecimalType(18, 6))), 2).cast("double").alias("sum_value"),
        )
    )


@register(
    "events_sessionize",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev_ms IS NULL
                       OR epoch_ms(ts) - prev_ms > {SESSION_GAP_MIN * 60 * 1000}
                  THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ),
    sessions AS (
      SELECT user_id, ts, event_id,
             CAST(sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      FROM flagged
    )
    SELECT user_id, session_seq,
           count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
    FROM sessions
    GROUP BY user_id, session_seq
    """,
    bench=True,
    tags=("events", "streaming-batch"),
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via window functions (no Python, no shuffle
    beyond the single hash partition by user_id reused by both windows)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_sec = SESSION_GAP_MIN * 60
    # Gap test on exact epoch milliseconds: DuckDB's date_diff counts
    # boundary crossings, not truncated deltas, so second-granularity math
    # disagrees on sub-second timestamps. NTZ -> LTZ is the identity under
    # the pinned UTC session tz; unix_millis is exact.
    epoch_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (epoch_ms - F.lag(epoch_ms).over(w) > gap_sec * 1000),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
    )


@register(
    "events_top_users_per_type",
    oracle="""
    WITH totals AS (
      SELECT event_type, user_id,
             CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value,
             count(*) AS n_events
      FROM events
      GROUP BY event_type, user_id
    ),
    ranked AS (
      SELECT event_type, user_id, total_value, n_events,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY total_value DESC, user_id) AS rnk
      FROM totals
    )
    SELECT event_type, user_id, total_value, n_events, rnk
    FROM ranked WHERE rnk <= 5
    """,
    tags=("events",),
)
def events_top_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key top-k: partial agg then a row_number window — the shuffle on
    (event_type,user_id) is map-side combined, the window shuffle is on the
    much smaller aggregate."""
    ev = table(spark, sf_dir, "events")
    totals = ev.groupBy("event_type", "user_id").agg(
        F.round(F.sum(F.col("value").cast(DecimalType(18, 6))), 2).cast("double").alias("total_value"),
        F.count("*").alias("n_events"),
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("total_value"), F.asc("user_id"))
    return totals.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= 5)


@register(
    "events_json_props_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_value
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) >= 50
    """,
    tags=("events", "json"),
)
def events_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction (the reference stores JSON payloads as
    strings in bronze; silver parses them — SURVEY §1.3). JVM-side
    ``get_json_object``, no Python."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return ev.select("event_id", k.alias("k_value")).where(F.col("k_value") >= 50)


@register(
    "events_salted_distinct_users",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_distinct,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
    tags=("events", "skew"),
)
def events_salted_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant exact distinct count (operators/skew.py): each
    event_type's distinct-user set is spread over 32 salt buckets in stage
    1, so a hot key becomes 32 tasks instead of one straggler; stage 2 sums
    the disjoint bucket counts — exact by construction."""
    from distributed_api_etl_spark.operators.skew import salted_agg, salted_distinct_count

    ev = table(spark, sf_dir, "events")
    distinct = salted_distinct_count(ev, ["event_type"], "user_id", n_buckets=32)
    counts = salted_agg(
        ev,
        ["event_type"],
        salt_col="event_id",
        aggs={"n_events": (F.count("*"), F.sum("n_events"))},
        n_buckets=32,
    )
    return distinct.join(counts, "event_type")


@register(
    "events_asof_attribution",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, max(event_id) AS click_id
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, ts
    ),
    purch AS (
      SELECT user_id, ts, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.purchase_id, c.click_id,
           CASE WHEN c.click_id IS NULL THEN NULL
                ELSE epoch_ms(p.ts) - epoch_ms(c.ts) END AS ms_since_click
    FROM purch p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
    tags=("events", "asof"),
)
def events_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators/asof.py): latest prior click for each
    purchase, per user — oracle is DuckDB's native ASOF JOIN. Right side
    deduped to unique (user, ts) so ties are well-defined on both engines."""
    from distributed_api_etl_spark.operators.asof import asof_join

    ev = table(spark, sf_dir, "events")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    joined = asof_join(purch, clicks, on="ts", by=["user_id"])
    ms = F.unix_millis(F.col("ts").cast("timestamp")) - F.unix_millis(
        F.col("r_ts").cast("timestamp")
    )
    return joined.select(
        "user_id",
        "purchase_id",
        F.col("r_click_id").alias("click_id"),
        F.when(F.col("r_click_id").isNotNull(), ms).alias("ms_since_click"),
    )


@register(
    "events_range_join_errors",
    oracle="""
    WITH p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
               FROM events WHERE event_type = 'purchase'),
    e AS (SELECT user_id, event_id AS error_id, epoch_us(ts) AS e_us
          FROM events WHERE event_type = 'error')
    SELECT p.user_id, p.purchase_id, e.error_id,
           (p.p_us - e.e_us) AS us_gap
    FROM p JOIN e ON p.user_id = e.user_id
    WHERE abs(p.p_us - e.e_us) <= 3600000000
    """,
    tags=("events", "rangejoin"),
)
def events_range_join_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join (operators/rangejoin.py): purchases with an error
    event by the same user within 1h — equi join on (user, time cell)
    instead of the quadratic inequality join the SQL oracle runs."""
    from distributed_api_etl_spark.operators.rangejoin import range_join_within

    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", us.alias("us"), F.col("event_id").alias("purchase_id")
    )
    e = ev.where(F.col("event_type") == "error").select(
        "user_id", us.alias("us"), F.col("event_id").alias("error_id")
    )
    out = range_join_within(p, e, on="us", by=["user_id"], window=3_600_000_000)
    return out.select(
        "user_id",
        "l_purchase_id",
        "r_error_id",
        (F.col("l_us") - F.col("r_us")).alias("us_gap"),
    ).withColumnsRenamed({"l_purchase_id": "purchase_id", "r_error_id": "error_id"})


def value_percentiles(
    ev: DataFrame, key_col: str = "event_type", value_col: str = "value", approx: bool = False
) -> DataFrame:
    """Per-key p50/p90/p99 + count.

    ``approx=False``: exact linear-interpolated ``percentile`` — buffers each
    group's values; right for verification scales and the graded oracle
    (Spark ``percentile`` and DuckDB ``quantile_cont`` agree bit-for-bit,
    verified). ``approx=True``: ``approx_percentile`` — bounded-memory
    single-pass sketch, the 100 TB path (no per-group value buffering);
    same plan shape, so the switch is a flag, not a rewrite.
    """
    fn = "approx_percentile" if approx else "percentile"
    return ev.groupBy(key_col).agg(
        F.expr(f"{fn}({value_col}, 0.5)").cast("double").alias("p50"),
        F.expr(f"{fn}({value_col}, 0.9)").cast("double").alias("p90"),
        F.expr(f"{fn}({value_col}, 0.99)").cast("double").alias("p99"),
        F.count("*").alias("n"),
    )


@register(
    "events_value_percentiles",
    oracle="""
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90,
           quantile_cont(value, 0.99) AS p99,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
    tags=("events", "stats"),
)
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded on the exact tier (cross-engine deterministic); the approx
    tier is the same operator with ``approx=True`` (smoke-tested in
    tests/test_operators.py — sketches are not cross-engine comparable)."""
    ev = table(spark, sf_dir, "events")
    return value_percentiles(ev, approx=False)


@register(
    "events_salted_type_enrich",
    oracle="""
    WITH dim AS (
      SELECT event_type, count(*) AS type_count FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, d.type_count
    FROM events e JOIN dim d USING (event_type)
    """,
    tags=("events", "skew", "join"),
    # promoted r10 (VERDICT r9 #3): the salted-join family was graded via
    # events_salted_distinct_users, but this variant's own driver evidence
    # had aged to r2/r3 — rejoins the rotation for fresh evidence on the
    # dim-enrichment path.
    graded=True,
)
def events_salted_type_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension enrichment through the salted join: event_type is the
    canonical skewed key (a handful of values over millions of rows), so
    the plain equi-join would pin each type to one reducer. salted_join
    spreads each type over 8 salt buckets and replicates the (tiny) dim 8x
    — identical row multiset to the plain join, which is exactly what the
    oracle asserts."""
    from distributed_api_etl_spark.operators.skew import salted_join

    ev = table(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(F.count("*").alias("type_count"))
    return salted_join(
        ev.select("event_id", "event_type"), dim, ["event_type"], n_salts=8
    ).select("event_id", "event_type", "type_count")


@register(
    "partitioned_sink_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d') AS event_date
    FROM events
    WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-02' AND '2024-01-03'
    """,
    tags=("events", "sink", "partitioning"),
)
def partitioned_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned sink + partition-pruned read-back: events are
    written partitioned by event_date, and the date-range read touches ONLY
    the matching partition directories (PartitionFilters in the scan;
    asserted in tests/test_table_manager.py). This is the reference's
    ``partition_by`` sink contract (src/core/table_manager.py DDL) made
    physical: at 100 TB, date-partitioning is what turns a time-scoped
    query from a full scan into a few directories."""
    import tempfile

    out = tempfile.mkdtemp(prefix="events_part_")
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
    )
    ev.write.mode("overwrite").partitionBy("event_date").parquet(out)
    back = spark.read.parquet(out)
    return back.where(
        F.col("event_date").between("2024-01-02", "2024-01-03")
    ).select("event_id", "user_id", "event_type", F.col("event_date"))


@register(
    "events_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS cohort_date
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_date FROM events
    )
    SELECT strftime(f.cohort_date, '%Y-%m-%d') AS cohort_date,
           count(*) AS n_new,
           CAST(sum(CASE WHEN a.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_retained_d7
    FROM firsts f
    LEFT JOIN activity a
      ON a.user_id = f.user_id AND a.active_date = f.cohort_date + INTERVAL 7 DAY
    GROUP BY f.cohort_date
    """,
    tags=("events", "analytics"),
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-7 cohort retention: users grouped by first-seen date; retained =
    active exactly 7 days later. Two aggregations sharing the user_id
    shuffle key plus one co-keyed left join — the cohort matrix pattern
    every growth pipeline runs. At 100 TB both sides pre-aggregate to one
    row per (user, date) before the join, so the join input is bounded by
    distinct users x active days, never raw events."""
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy(F.col("user_id").alias("f_user")).agg(
        F.min("ts").cast("date").alias("f_cohort")
    )
    activity = ev.select(
        F.col("user_id").alias("a_user"), F.col("ts").cast("date").alias("a_date")
    ).distinct()
    return (
        firsts.join(
            activity,
            (F.col("f_user") == F.col("a_user"))
            & (F.col("a_date") == F.date_add(F.col("f_cohort"), 7)),
            "left",
        )
        .groupBy(F.date_format(F.col("f_cohort"), "yyyy-MM-dd").alias("cohort_date"))
        .agg(
            F.count("*").alias("n_new"),
            F.sum(F.when(F.col("a_user").isNotNull(), 1).otherwise(0)).alias(
                "n_retained_d7"
            ),
        )
    )


@register(
    "events_funnel_click_purchase",
    oracle="""
    WITH first_click AS (
      SELECT user_id, min(ts) AS c_ts FROM events
      WHERE event_type = 'click' GROUP BY user_id
    ),
    converted AS (
      SELECT DISTINCT f.user_id
      FROM first_click f
      JOIN events e ON e.user_id = f.user_id
       AND e.event_type = 'purchase' AND e.ts >= f.c_ts
    )
    SELECT step, n_users FROM (
      SELECT 1 AS step, count(*) AS n_users FROM first_click
      UNION ALL
      SELECT 2 AS step, count(*) AS n_users FROM converted
    )
    """,
    tags=("events", "analytics"),
)
def events_funnel_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel: users who clicked, then users whose purchase came at
    or after their FIRST click (event-order matters — a purchase before any
    click does not convert). Step 1 is one aggregation; step 2 joins the
    first-click timestamps back to purchases (semi-join shape, distinct
    user set). The pattern extends to N steps by iterating min-ts-after."""
    ev = table(spark, sf_dir, "events")
    first_click = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    converted = (
        first_click.join(
            purchases,
            (first_click.user_id == purchases.user_id) & (purchases.ts >= F.col("c_ts")),
        )
        .select(first_click.user_id)
        .distinct()
    )
    s1 = first_click.agg(F.lit(1).alias("step"), F.count("*").alias("n_users"))
    s2 = converted.agg(F.lit(2).alias("step"), F.count("*").alias("n_users"))
    return s1.unionByName(s2)


@register(
    "events_value_outliers",
    oracle="""
    WITH comp AS (
      SELECT event_type,
             count(*) AS n,
             CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS s,
             CAST(round(sum(CAST(value AS DECIMAL(18,6))
                            * CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS sq
      FROM events GROUP BY event_type
    ),
    stats AS (
      SELECT event_type, n, s / n AS mean,
             sqrt((sq - s * s / n) / (n - 1)) AS std
      FROM comp
    )
    SELECT e.event_type,
           st.n,
           floor(st.mean * 1000000.0 + 0.5) / 1000000.0 AS mean,
           floor(st.std * 1000000.0 + 0.5) / 1000000.0 AS std,
           CAST(sum(CASE WHEN abs(e.value - st.mean) > 3 * st.std
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN stats st USING (event_type)
    GROUP BY e.event_type, st.n, st.mean, st.std
    """,
    tags=("events", "stats"),
)
def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass 3-sigma outlier counts per event type, engine-deterministic
    end to end: pass 1 accumulates sum and sum-of-squares in EXACT decimal
    (rounded to 1e-6 before the double cast, so the conversion is exact);
    mean/std then derive from those two doubles with an identical IEEE op
    sequence on both engines, making the per-row |x - mean| > 3*std
    comparison bit-stable even at the boundary. Pass 2 is one broadcast
    join of the tiny per-type stats back onto the events — the standard
    two-pass shape for any moment-based filter at 100 TB (never a
    per-row window over the whole table)."""
    ev = table(spark, sf_dir, "events")
    v = F.col("value").cast(DecimalType(18, 6))
    comp = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum(v), 6).cast("double").alias("s"),
        F.round(F.sum(v * v), 6).cast("double").alias("sq"),
    )
    stats = comp.select(
        "event_type",
        "n",
        (F.col("s") / F.col("n")).alias("mean"),
        F.sqrt((F.col("sq") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)).alias("std"),
    )
    from distributed_api_etl_spark.operators.text import portable_round6

    return (
        ev.join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "n", "mean", "std")
        .agg(
            F.sum(
                F.when(F.abs(F.col("value") - F.col("mean")) > 3 * F.col("std"), 1).otherwise(0)
            ).alias("n_outliers")
        )
        .select(
            "event_type",
            "n",
            portable_round6(F.col("mean")).alias("mean"),
            portable_round6(F.col("std")).alias("std"),
            "n_outliers",
        )
    )


@register(
    "events_latest_per_user_type",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, event_id, ts,
             row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts DESC, event_id DESC) AS rnk
      FROM events
    )
    SELECT user_id, event_type, event_id AS last_event_id,
           CAST(epoch_ms(ts) AS BIGINT) AS last_ts_ms
    FROM ranked WHERE rnk = 1
    """,
    tags=("events", "etl", "dedup"),
)
def events_latest_per_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record-wins compaction (operators/dedup.py:latest_by_key) —
    the CDC/at-least-once staple: one max_by(struct) aggregation keeps the
    newest row per (user, type), map-side combinable with NO window sort
    shuffle; ties on ts break by highest event_id (total order)."""
    from distributed_api_etl_spark.operators.dedup import latest_by_key

    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "event_id", "ts")
    latest = latest_by_key(ev, ["user_id", "event_type"], ["ts", "event_id"])
    return latest.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("last_event_id"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("last_ts_ms"),
    )


def _zorder_oracle() -> str:
    from distributed_api_etl_spark.functions.portable import pmod_sql
    from distributed_api_etl_spark.operators.layout import zorder_expr

    m = 1 << 16
    # minute index: `//` truncates in DuckDB exactly like Spark's `div` —
    # consistent by itself — but the bucketing mod must be NON-NEGATIVE
    # (pmod_sql) to mirror Spark's pmod for pre-1970 minutes; a bare signed
    # `%` here fed negative yb into the bit interleave (round-5 review).
    minute = f"epoch_ms(CAST(ts AS TIMESTAMP)) // 60000"
    return f"""
    WITH base AS (
      SELECT event_id,
             CAST(user_id % {m} AS BIGINT) AS xb,
             CAST({pmod_sql(minute, m)} AS BIGINT) AS yb
      FROM events)
    SELECT event_id, {zorder_expr('xb', 'yb', sql_div='//')} AS zval
    FROM base
    """


@register(
    "events_zorder_index",
    oracle=_zorder_oracle(),
    tags=("layout", "events"),
)
def events_zorder_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over (user_id, event minute) —
    the multi-dimension layout key write_zordered sorts parquet by
    (operators/layout.py). Grading the key itself proves the interleave is
    engine-exact; the layout write + pruning behavior is covered in
    tests/test_operators.py and SCALE.md."""
    from distributed_api_etl_spark.operators.layout import with_zorder_key

    ev = table(spark, sf_dir, "events").withColumn(
        "minute_idx", F.expr("div(unix_millis(cast(ts as timestamp)), 60000)")
    )
    return with_zorder_key(ev, "user_id", "minute_idx", out_col="zval").select(
        "event_id", "zval"
    )


@register(
    "events_rolling_1h_user_value",
    oracle="""
    SELECT event_id,
           CAST(user_id AS BIGINT) AS user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_prev_1h,
           CAST(round(sum(CAST(value AS DECIMAL(14,2))) OVER w, 2) AS DOUBLE)
             AS sum_value_1h
    FROM (SELECT event_id, user_id, value,
                 epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms
          FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
                 RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
    """,
    tags=("events", "window"),
)
def events_rolling_1h_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time feature: per event, the user's event count and
    value sum over the trailing hour — a RANGE frame over epoch millis
    (time-range frames complement the ROWS frames and ranking windows
    graded elsewhere). The decimal-sum-then-round pattern keeps the
    windowed double sum engine-exact. Scale: one shuffle on user_id; the
    range frame is a per-partition sliding aggregate, no self-join — the
    feature-engineering staple for sessionless activity features."""
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("value"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms")
        .rangeBetween(-3600000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_prev_1h"),
        F.round(F.sum(F.col("value").cast(DecimalType(14, 2))).over(w), 2)
        .cast("double")
        .alias("sum_value_1h"),
    )


def winsorize_normalize(
    df: DataFrame,
    value_col: str,
    lo_q: float = 0.01,
    hi_q: float = 0.99,
    approx: bool = False,
) -> DataFrame:
    """Feature clipping + min-max normalization against winsorized bounds.

    The scaling staple before model training: clamp to [p_lo, p_hi] (so a
    handful of outliers can't flatten the feature range) and normalize to
    [0, 1]. Two passes: ONE one-row percentile aggregate (exact tier for
    grading; ``approx=True`` flips to the bounded-memory sketch for the
    100 TB path, same plan shape), broadcast back (one row — always
    broadcastable), then a map-only clamp/scale. Adds ``{value}_clipped``
    and ``{value}_norm`` (portable_round6 — the bounds and the two IEEE
    ops after them are bit-identical cross-engine).
    """
    from distributed_api_etl_spark.operators.text import portable_round6

    fn = "approx_percentile" if approx else "percentile"
    bounds = df.agg(
        F.expr(f"{fn}({value_col}, {lo_q})").cast("double").alias("_lo"),
        F.expr(f"{fn}({value_col}, {hi_q})").cast("double").alias("_hi"),
    )
    # null bounds (empty input / all-null values) degrade to identity clip
    lo = F.coalesce(F.col("_lo"), F.col(value_col))
    hi = F.coalesce(F.col("_hi"), F.col(value_col))
    clipped = F.least(F.greatest(F.col(value_col), lo), hi)
    norm = F.when(hi > lo, (clipped - lo) / (hi - lo)).otherwise(F.lit(0.0))
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(f"{value_col}_clipped", portable_round6(clipped))
        .withColumn(f"{value_col}_norm", portable_round6(norm))
        .drop("_lo", "_hi")
    )


@register(
    "events_value_winsorized",
    oracle="""
    WITH b AS (SELECT quantile_cont(value, 0.01) AS lo,
                      quantile_cont(value, 0.99) AS hi
               FROM events)
    SELECT event_id,
           floor(least(greatest(value, lo), hi) * 1000000.0 + 0.5) / 1000000.0
             AS value_clipped,
           floor((CASE WHEN hi > lo
                  THEN (least(greatest(value, lo), hi) - lo) / (hi - lo)
                  ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS value_norm
    FROM events, b
    """,
    tags=("events", "stats", "ml"),
)
def events_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized [p01, p99] clipping + min-max normalization of the event
    value — graded on the exact-percentile tier; the approx flag is the
    at-scale path with the identical plan shape."""
    ev = table(spark, sf_dir, "events")
    return winsorize_normalize(ev, "value").select(
        "event_id", "value_clipped", "value_norm"
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "events_pivot_type_counts",
    oracle=f"""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           {", ".join(f"CAST(count(*) FILTER (event_type = '{t}') AS BIGINT) AS n_{t}" for t in EVENT_TYPES)}
    FROM events GROUP BY user_id
    """,
    tags=("events", "reshape"),
)
def events_pivot_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-user activity matrix via ``groupBy().pivot()`` — the
    reshape operator the catalog lacked. The pivot VALUES ARE DECLARED
    (not discovered): at 100 TB an undeclared pivot first runs a distinct
    scan over the pivot column AND plans one output column per value —
    declaring them keeps planning O(1) and the single shuffle identical
    to a plain groupBy."""
    ev = table(spark, sf_dir, "events")
    out = (
        ev.groupBy(F.col("user_id").cast("bigint").alias("user_id"))
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}") for t in EVENT_TYPES],
    )


@register(
    "lineitem_unpivot_metrics",
    oracle="""
    SELECT metric,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(v AS DECIMAL(14,2))), 2) AS DOUBLE) AS total
    FROM (
      SELECT 'extendedprice' AS metric, l_extendedprice AS v FROM lineitem
      UNION ALL SELECT 'discount', l_discount FROM lineitem
      UNION ALL SELECT 'tax', l_tax FROM lineitem)
    GROUP BY metric
    """,
    tags=("relational", "reshape"),
)
def lineitem_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-form metric table via ``DataFrame.unpivot`` (melt) + one
    aggregation — the inverse reshape. unpivot is a zero-shuffle Expand
    (each row emits one row per metric in-place); only the final
    aggregation shuffles, on the tiny metric key. Decimal-sum-then-round
    keeps the money totals engine-exact."""
    li = table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        [],
        [
            F.col("l_extendedprice").alias("extendedprice"),
            F.col("l_discount").alias("discount"),
            F.col("l_tax").alias("tax"),
        ],
        "metric",
        "v",
    )
    return long.groupBy("metric").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("v").cast(DecimalType(14, 2))), 2)
        .cast("double")
        .alias("total"),
    )


@register(
    "events_type_transitions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events)
    SELECT prev_type, event_type AS next_type,
           CAST(count(*) AS BIGINT) AS n
    FROM ordered WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
    tags=("events", "sequence"),
)
def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix (the Markov-feature shape
    sequence models consume): one lag window per user (single shuffle on
    user_id, deterministic (ts, event_id) ordering), then a tiny
    5x5-key aggregation."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "events_value_mad_outliers",
    oracle="""
    WITH med AS (SELECT quantile_cont(value, 0.5) AS m FROM events),
    dev AS (SELECT event_type, value, abs(value - (SELECT m FROM med)) AS d
            FROM events),
    madv AS (SELECT quantile_cont(d, 0.5) AS mad FROM dev)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (
             d > 3.0 * 1.4826 * (SELECT mad FROM madv)) AS BIGINT) AS n_outliers
    FROM dev GROUP BY event_type
    """,
    tags=("events", "stats"),
)
def events_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier counts via median/MAD (the 3-sigma dual that a few
    extreme points cannot poison — the mean/std of events_value_outliers
    move with every outlier, the median/MAD do not): two exact-percentile
    passes (each a one-row aggregate broadcast back; the approx_percentile
    flag pattern of value_percentiles applies unchanged at scale) and a
    map-side threshold at the conventional 3 x 1.4826 x MAD."""
    ev = table(spark, sf_dir, "events")
    med = ev.agg(F.expr("percentile(value, 0.5)").cast("double").alias("m"))
    dev = ev.crossJoin(F.broadcast(med)).withColumn(
        "d", F.abs(F.col("value") - F.col("m"))
    )
    mad = dev.agg(F.expr("percentile(d, 0.5)").cast("double").alias("mad"))
    return (
        dev.crossJoin(F.broadcast(mad))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                (F.col("d") > F.lit(3.0) * F.lit(1.4826) * F.col("mad")).cast("bigint")
            ).alias("n_outliers"),
        )
    )


@register(
    "events_dow_seasonality",
    oracle=f"""
    SELECT CAST({pmod_sql(f"{epoch_day_sql('ts')} + 4", 7)}
             AS INTEGER) AS dow,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
    """,
    tags=("events", "calendar"),
)
def events_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week activity matrix with ENGINE-PORTABLE dow: Spark's
    dayofweek() is 1=Sunday, DuckDB's dayofweek() is 0=Sunday and isodow()
    is 1=Monday — calendar functions are a cross-engine trap, so the dow
    here is pure integer epoch-day arithmetic ((days since 1970-01-01 + 4)
    mod 7, 0=Monday — 1970-01-01 was a Thursday) on the UTC-pinned
    normalized timestamps. The mod must be NON-NEGATIVE on both sides for
    pre-1970 days: Spark pmod here, ((x % 7) + 7) % 7 in the oracle
    (DuckDB's % keeps the dividend's sign)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.withColumn("dow", F.pmod(epoch_day("ts") + F.lit(4), F.lit(7)).cast("int"))
        .groupBy("dow", "event_type")
        .agg(F.count("*").alias("n_events"))
    )


@register(
    "events_linear_attribution",
    oracle="""
    WITH pairs AS (
      SELECT a.event_id AS click_id, b.event_id AS purchase_id
      FROM events a JOIN events b
        ON a.user_id = b.user_id
       AND a.event_type = 'click' AND b.event_type = 'purchase'
       AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '1 hour'),
    split AS (
      SELECT click_id, purchase_id,
             1000000000 // count(*) OVER (PARTITION BY purchase_id) AS credit_ppb
      FROM pairs)
    SELECT click_id,
           CAST(count(*) AS BIGINT) AS n_purchases_touched,
           CAST(sum(credit_ppb) AS BIGINT) AS credit_ppb
    FROM split GROUP BY click_id
    """,
    tags=("events", "attribution"),
)
def events_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-split) marketing attribution: each purchase's credit
    divides equally across the clicks in its preceding hour. Credits are
    INTEGER parts-per-billion (1e9 // touch_count) so the per-click sums
    are exact BIGINT arithmetic on both engines — float fractions would
    make every aggregation order-dependent. Plan: the interval pair join
    (as events_asof/interval queries), one window over purchase_id, one
    aggregation by click."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    pairs = clicks.join(
        purch,
        (F.col("cu") == F.col("pu"))
        & (F.col("pts") >= F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 hour")),
    )
    w = Window.partitionBy("purchase_id")
    split = pairs.withColumn("touches", F.count("*").over(w)).withColumn(
        "credit_ppb", F.expr("div(CAST(1000000000 AS BIGINT), touches)")
    )
    return split.groupBy("click_id").agg(
        F.count("*").alias("n_purchases_touched"),
        F.sum("credit_ppb").alias("credit_ppb"),
    )


@register(
    "events_interarrival_stats",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
      FROM events)
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(count(gap_ms) AS BIGINT) AS n_gaps,
           CAST(min(gap_ms) AS BIGINT) AS min_gap_ms,
           quantile_cont(gap_ms, 0.5) AS median_gap_ms,
           CAST(max(gap_ms) AS BIGINT) AS max_gap_ms
    FROM gaps WHERE gap_ms IS NOT NULL GROUP BY user_id
    """,
    tags=("events", "sequence", "stats"),
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity cadence: inter-event gap stats from one lag window
    (single shuffle on user_id, deterministic (ts, event_id) order) — the
    burstiness/engagement features behind bot detection and session-gap
    tuning (the 30-min sessionize gap should dominate these medians).
    Exact interpolated median per user (grouped percentile; groups are
    per-user sized, so the exact tier holds far beyond test scale)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        (
            F.unix_millis(F.col("ts").cast("timestamp"))
            - F.lag(F.unix_millis(F.col("ts").cast("timestamp"))).over(w)
        ).alias("gap_ms"),
    ).where(F.col("gap_ms").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count("gap_ms").alias("n_gaps"),
        F.min("gap_ms").alias("min_gap_ms"),
        F.expr("percentile(gap_ms, 0.5)").cast("double").alias("median_gap_ms"),
        F.max("gap_ms").alias("max_gap_ms"),
    )


@register(
    "events_user_value_trend",
    oracle="""
    WITH base AS (
      SELECT user_id,
             (epoch_ms(ts) - min(epoch_ms(ts)) OVER (PARTITION BY user_id))
               // 60000 AS x,
             CAST(value AS DECIMAL(14,2)) AS y
      FROM events),
    sums AS (
      SELECT CAST(user_id AS BIGINT) AS user_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DECIMAL(38,0)) AS sx,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
             CAST(sum(y) AS DECIMAL(38,2)) AS sy,
             CAST(sum(CAST(x AS DECIMAL(24,2)) * y) AS DECIMAL(38,2)) AS sxy
      FROM base GROUP BY user_id)
    SELECT user_id, n,
           CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
                ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope_per_min
    FROM sums
    """,
    tags=("events", "stats", "ml"),
)
def events_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user value trend (regr_slope semantics) with EXACT-decimal
    moment sums: x = minutes since the user's first event (small integers
    after the per-user re-basing window), y = cent-exact decimal value —
    every Σx, Σx², Σy, Σxy is exact integer/decimal arithmetic, so the
    closed-form slope's single double division is bit-identical on both
    engines. Float regr_slope/covar aggregates are aggregation-order
    dependent and can never hash-grade; this is the portable form, and the
    same two-shuffle plan (per-user min window + one groupBy) holds at any
    scale."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    base = ev.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.expr(
            "div(unix_millis(cast(ts as timestamp)) "
            "- min(unix_millis(cast(ts as timestamp))) OVER "
            "(PARTITION BY user_id), 60000)"
        ).alias("x"),
        F.col("value").cast(DecimalType(14, 2)).alias("y"),
    )
    sums = base.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("x").cast(DecimalType(38, 0)).alias("sx"),
        F.sum(F.col("x").cast(DecimalType(38, 0)) * F.col("x"))
        .cast(DecimalType(38, 0))
        .alias("sxx"),
        F.sum("y").cast(DecimalType(38, 2)).alias("sy"),
        F.sum(F.col("x").cast(DecimalType(24, 2)) * F.col("y"))
        .cast(DecimalType(38, 2))
        .alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return sums.select(
        "user_id",
        "n",
        F.when(den == 0, F.lit(0.0))
        .otherwise(num.cast("double") / den.cast("double"))
        .alias("slope_per_min"),
    )


def _entropy_terms(count_expr, total_expr: str, types: tuple = EVENT_TYPES) -> str:
    """-sum p*log2(p) as FIVE EXPLICIT TERMS in literal type order: the
    addition order is fixed by the expression tree, so both engines run
    the identical IEEE sequence (a fold over a groupBy's output would be
    engine-order dependent)."""
    terms = []
    for t in types:
        c = count_expr(t)
        p = f"(CAST({c} AS DOUBLE) / {total_expr})"
        terms.append(f"(CASE WHEN {c} > 0 THEN -{p} * log2({p}) ELSE 0.0 END)")
    return " + ".join(terms)


@register(
    "events_user_type_entropy",
    oracle=f"""
    WITH counts AS (
      SELECT CAST(user_id AS BIGINT) AS user_id,
             {", ".join(f"CAST(count(*) FILTER (event_type = '{t}') AS BIGINT) AS n_{t}" for t in EVENT_TYPES)},
             CAST(count(*) FILTER (event_type IN ({", ".join(chr(39) + t + chr(39) for t in EVENT_TYPES)}))
               AS BIGINT) AS n_total
      FROM events GROUP BY user_id)
    SELECT user_id, n_total,
           floor(({_entropy_terms(lambda t: f"n_{t}", "n_total")}) * 1e6 + 0.5) / 1e6
             AS type_entropy_bits
    FROM counts
    """,
    tags=("events", "stats"),
)
def events_user_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix over the DECLARED
    taxonomy (n_total counts declared types only, on both engines — a row
    with an undeclared type changes neither side; 0 = monomaniac bot,
    log2(5) ~ 2.32 = uniform browser) is the diversity feature behind
    engagement scoring and bot heuristics. The five -p*log2(p) terms are
    summed in LITERAL type order on both engines (expression-tree order,
    not aggregation order), then portable-rounded — the pattern for
    hash-grading any fixed-arity float formula."""
    ev = table(spark, sf_dir, "events")
    counts = (
        ev.groupBy(F.col("user_id").cast("bigint").alias("user_id"))
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    for t in EVENT_TYPES:
        counts = counts.withColumn(
            f"n_{t}", F.coalesce(F.col(t), F.lit(0)).cast("bigint")
        )
    counts = counts.withColumn(
        "n_total", sum(F.col(f"n_{t}") for t in EVENT_TYPES).cast("bigint")
    )
    entropy = F.expr(
        f"floor(({_entropy_terms(lambda t: f'n_{t}', 'n_total')}) * 1e6 + 0.5) / 1e6"
    )
    return counts.select("user_id", "n_total", entropy.alias("type_entropy_bits"))


@register(
    "events_daily_dense_features",
    bench=True,
    oracle="""
    WITH daily AS (
      SELECT CAST(user_id AS BIGINT) AS user_id,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n_events,
             sum(CAST(value AS DECIMAL(14,2))) AS vsum
      FROM events GROUP BY 1, 2),
    bounds AS (SELECT user_id, min(day) AS dmin, max(day) AS dmax
               FROM daily GROUP BY user_id),
    spine AS (
      SELECT b.user_id, CAST(g.d AS DATE) AS day
      FROM bounds b,
           LATERAL (SELECT unnest(generate_series(CAST(b.dmin AS TIMESTAMP),
                                                  CAST(b.dmax AS TIMESTAMP),
                                                  INTERVAL 1 DAY)) AS d) g),
    dense AS (
      SELECT s.user_id, s.day,
             COALESCE(d.n_events, 0) AS n_events,
             COALESCE(d.vsum, 0) AS vsum,
             CASE WHEN d.n_events IS NULL THEN 1 ELSE 0 END AS is_gap
      FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day)
    SELECT user_id,
           strftime(day, '%Y-%m-%d') AS day,
           n_events,
           CAST(round(vsum, 2) AS DOUBLE) AS value_sum,
           CAST(is_gap AS BIGINT) AS is_gap,
           CAST(sum(n_events) OVER (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS trail7_events
    FROM dense
    """,
    tags=("events", "timeseries", "window"),
)
def events_daily_dense_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-to-dense time-series features: per-user DAILY aggregates
    gap-filled over each user's own activity span, then a trailing-7-day
    event count on the dense grid.

    Why densify at all: on the raw sparse aggregates a ``ROWS 6
    PRECEDING`` frame silently spans MORE than 7 calendar days across gap
    days — the classic wrong-features bug; on the dense grid the cheap
    ROWS frame is time-correct (and gap days carry explicit zeros, which
    models need to see). Why it scales: the spine comes from
    ``sequence(min_day, max_day)`` exploded per user — map-only codegen,
    no global calendar cross join (which would manufacture rows for users
    outside their activity horizon); output is sum-of-active-spans,
    independent of raw event volume. One co-keyed left join + one
    user-partitioned window are the only shuffles. Decimal-sum-then-round
    keeps value_sum engine-exact (operators/timeseries.py).
    """
    from distributed_api_etl_spark.operators.timeseries import densify_daily

    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("ts").cast("timestamp").cast("date").alias("day"),
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast(DecimalType(14, 2))).alias("vsum"),
    )
    dense = densify_daily(daily, ["user_id"], "day")
    w = Window.partitionBy("user_id").orderBy("day").rowsBetween(-6, 0)
    return dense.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round(F.col("vsum"), 2).cast("double").alias("value_sum"),
        "is_gap",
        F.sum("n_events").over(w).cast("bigint").alias("trail7_events"),
    )


@register(
    "events_cusum_changepoints",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             {epoch_day_sql('ts')} AS day_idx,
             count(*) AS daily_count
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, sum(daily_count) AS total, count(*) AS n
      FROM daily GROUP BY 1
    ),
    x AS (
      SELECT d.event_type, d.day_idx, d.daily_count, s.total, s.n,
             10 * s.n * d.daily_count - 11 * s.total AS xv
      FROM daily d JOIN stats s USING (event_type)
    ),
    p AS (
      SELECT *, CAST(sum(xv) OVER (PARTITION BY event_type ORDER BY day_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pf
      FROM x
    ),
    q AS (
      SELECT *, CAST(min(pf) OVER (PARTITION BY event_type ORDER BY day_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                AS runmin
      FROM p
    )
    SELECT event_type,
           CAST(day_idx AS BIGINT) AS day_idx,
           CAST(daily_count AS BIGINT) AS daily_count,
           CAST(pf - LEAST(runmin, 0) AS DOUBLE) / CAST(10 * n AS DOUBLE)
             AS cusum,
           (pf - LEAST(runmin, 0)) > 30 * total AS is_changepoint
    FROM q
    """,
    tags=("events", "timeseries", "stats"),
)
def events_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift detection on per-type daily volumes
    (operators/timeseries.py:cusum_changepoints): the sequential CUSUM
    recurrence rewritten as prefix-sum minus running-min — two window
    passes over one (event_type, day) sort, integer-exact end to end
    (slack = mu/10, threshold = 3*mu, both rationals with denominator
    10*n so the flag boundary is bit-identical cross-engine). Day index
    is pure epoch-day arithmetic on the UTC-normalized timestamps (the
    dow-seasonality convention — calendar functions are a cross-engine
    trap)."""
    from distributed_api_etl_spark.operators.timeseries import cusum_changepoints

    ev = table(spark, sf_dir, "events")
    daily = (
        ev.withColumn("day_idx", epoch_day("ts"))
        .groupBy("event_type", "day_idx")
        .agg(F.count("*").alias("daily_count"))
    )
    return cusum_changepoints(
        daily, ["event_type"], "day_idx", "daily_count"
    )


@register(
    "events_cumulative_distinct_users",
    oracle=f"""
    WITH first_seen AS (
      SELECT user_id,
             min({epoch_day_sql('ts')}) AS first_day
      FROM events GROUP BY user_id
    ),
    new_per_day AS (
      SELECT first_day AS day_idx, count(*) AS new_users
      FROM first_seen GROUP BY first_day
    ),
    days AS (
      SELECT DISTINCT {epoch_day_sql('ts')} AS day_idx
      FROM events
    )
    SELECT CAST(d.day_idx AS BIGINT) AS day_idx,
           CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users,
           CAST(sum(COALESCE(n.new_users, 0)) OVER (ORDER BY d.day_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cumulative_users
    FROM days d LEFT JOIN new_per_day n ON n.day_idx = d.day_idx
    """,
    tags=("events", "analytics", "window"),
)
def events_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day — COUNT(DISTINCT) OVER (ORDER BY
    day) is inexpressible as a window in either engine and quadratic if
    emulated by per-day re-scans; the first-seen trick makes it linear:
    min(first day) per user (one user-keyed shuffle), count new users per
    day (one day-keyed aggregation), then an ordinary cumulative sum. The
    final window is a single-partition ordered sum over ~one row per DAY
    (bounded by the calendar, not the data) — the only deliberately
    non-parallel step, and it is O(days)."""
    ev = table(spark, sf_dir, "events").withColumn("day_idx", epoch_day("ts"))
    first_seen = ev.groupBy("user_id").agg(F.min("day_idx").alias("first_day"))
    new_per_day = (
        first_seen.groupBy(F.col("first_day").alias("day_idx"))
        .agg(F.count("*").alias("new_users"))
    )
    days = ev.select("day_idx").distinct()
    from pyspark.sql import Window

    w = Window.orderBy("day_idx").rowsBetween(Window.unboundedPreceding, 0)
    return (
        days.join(new_per_day, "day_idx", "left")
        .select(
            "day_idx",
            F.coalesce("new_users", F.lit(0)).cast("long").alias("new_users"),
        )
        .withColumn("cumulative_users", F.sum("new_users").over(w).cast("long"))
    )


@register(
    "events_key_skew_report",
    oracle="""
    WITH per_key AS (
      SELECT event_type, user_id, count(*) AS cnt
      FROM events GROUP BY event_type, user_id
    ),
    ranked AS (
      SELECT event_type, cnt,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cnt, user_id) AS i
      FROM per_key
    ),
    agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(cnt) AS BIGINT) AS total_rows,
             CAST(max(cnt) AS BIGINT) AS max_key_rows,
             CAST(sum(i * cnt) AS BIGINT) AS s
      FROM ranked GROUP BY event_type
    )
    SELECT event_type, n_keys, total_rows, max_key_rows,
           CAST(1000000 * max_key_rows // total_rows AS BIGINT)
             AS top_key_share_ppm,
           CAST(2 * s - (n_keys + 1) * total_rows AS DOUBLE)
             / CAST(n_keys * total_rows AS DOUBLE) AS gini
    FROM agg
    """,
    tags=("events", "skew", "profiling"),
)
def events_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis — the measurement that decides whether the
    salting family (operators/skew.py) is needed: per event_type, the key
    count, the heaviest key's row share (integer ppm), and the exact Gini
    coefficient of the per-key row distribution. Gini via the rank
    formulation G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over
    counts sorted ascending — tie order provably doesn't change the sum,
    every term is integer, and the single final division is one
    exact-integers-to-double op, so it hash-grades. Two shuffles: the
    per-(type,key) count (map-side combinable) and the per-type rank
    window; at 100 TB the window sorts |keys| rows per type, not |rows|."""
    ev = table(spark, sf_dir, "events")
    per_key = ev.groupBy("event_type", "user_id").agg(F.count("*").alias("cnt"))
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("cnt", "user_id")
    ranked = per_key.withColumn("i", F.row_number().over(w))
    agg = ranked.groupBy("event_type").agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("total_rows"),
        F.max("cnt").alias("max_key_rows"),
        F.sum(F.col("i") * F.col("cnt")).alias("s"),
    )
    return agg.select(
        "event_type",
        "n_keys",
        "total_rows",
        "max_key_rows",
        F.expr("CAST(div(1000000 * max_key_rows, total_rows) AS BIGINT)").alias(
            "top_key_share_ppm"
        ),
        (
            (2 * F.col("s") - (F.col("n_keys") + 1) * F.col("total_rows")).cast(
                "double"
            )
            / (F.col("n_keys") * F.col("total_rows")).cast("double")
        ).alias("gini"),
    )


@register(
    "events_next_event_examples",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, event_type,
             lag(event_type, 3) OVER w AS l3,
             lag(event_type, 2) OVER w AS l2,
             lag(event_type, 1) OVER w AS l1
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(event_id AS BIGINT) AS example_id,
           concat_ws(' ', l3, l2, l1) AS features,
           event_type AS label
    FROM ordered
    WHERE l3 IS NOT NULL AND l2 IS NOT NULL AND l1 IS NOT NULL
      AND event_type IS NOT NULL
    """,
    tags=("events", "ml", "pipeline"),
    # graded since round 6 (VERDICT r5 #1): entered graded=False under the
    # r4 registry freeze, flipped once the freeze completed at 135/135.
)
def events_next_event_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event-prediction training examples from the interaction log
    (operators/examples.py:next_event_examples): previous 3 event types
    (oldest first) as the feature window, current type as label, rows with
    short history dropped. One user-keyed shuffle; the three lags share a
    single WindowExec sort pass — the cheapest formulation of sliding
    feature windows (no explode, no self-join). Ties broken by
    (ts, event_id) so the examples hash-grade on any engine."""
    from distributed_api_etl_spark.operators.examples import next_event_examples

    ev = table(spark, sf_dir, "events")
    return next_event_examples(ev, history=3)


@register(
    "events_hot_user_salted_join",
    # bench-tracked (VERDICT r15 #2): the 16x dim replication is a real
    # shuffle-volume knob — counters watch it alongside the auto-sized head
    bench=True,
    oracle="""
    WITH e AS (
      SELECT event_id,
             CAST(CASE WHEN user_id % 10 < 3 THEN 0 ELSE user_id END
                  AS BIGINT) AS uid
      FROM events
    ),
    dim AS (
      SELECT uid, CAST(count(*) AS BIGINT) AS uid_events
      FROM e GROUP BY uid HAVING uid % 2 = 0
    )
    SELECT e.event_id, e.uid, d.uid_events
    FROM e LEFT JOIN dim d USING (uid)
    """,
    tags=("events", "skew", "join"),
)
def events_hot_user_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberately HOT-KEYED dimension join through the salted join
    (VERDICT r14 #6): collapsing ``user_id % 10 < 3`` onto uid=0 puts
    ~30% of all events behind ONE high-cardinality join key — the
    bronze->silver enrichment shape where a plain shuffle join pins a
    third of the fact table to a single reducer and AQE's skew split
    can't help a first-stage straggler. salted_join spreads the hot key
    over 16 salt buckets (row-content entropy) and replicates the dim
    16x; the graded oracle is the PLAIN left join, so a green row IS the
    proof that salting only re-keys the shuffle. LEFT semantics are
    exercised too: the dim keeps only even uids, so odd tail uids must
    come back exactly once with a NULL — the miss-duplication failure
    mode the operator's how-guard exists for. Measured per-task spread
    (plain vs salted layout at sf0.1) is recorded in SCALE.md
    ("Hot-key salted join: measured per-task spread")."""
    from distributed_api_etl_spark.operators.skew import salted_join

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("user_id") % 10 < 3, F.lit(0))
        .otherwise(F.col("user_id"))
        .cast("bigint")
        .alias("uid"),
    )
    dim = (
        ev.groupBy("uid")
        .agg(F.count("*").alias("uid_events"))
        .where(F.col("uid") % 2 == 0)
    )
    return salted_join(ev, dim, ["uid"], n_salts=16, how="left").select(
        "event_id", "uid", "uid_events"
    )


@register(
    "events_hot_user_autosalted_join",
    # bench-tracked from birth: the derived salt count moves the dim
    # replication volume — the counter pair with the fixed-16 head shows it
    bench=True,
    oracle="""
    WITH e AS (
      SELECT event_id,
             CAST(CASE WHEN user_id % 10 < 3 THEN 0 ELSE user_id END
                  AS BIGINT) AS uid
      FROM events
    ),
    dim AS (
      SELECT uid, CAST(count(*) AS BIGINT) AS uid_events
      FROM e GROUP BY uid HAVING uid % 2 = 0
    )
    SELECT e.event_id, e.uid, d.uid_events
    FROM e LEFT JOIN dim d USING (uid)
    """,
    tags=("events", "skew", "join", "profiling"),
)
def events_hot_user_autosalted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted hot-key join with the salt count DERIVED from measured
    skew (VERDICT r15 #5): measure -> size -> salt. Same deliberately
    hot-keyed shape as events_hot_user_salted_join (~30% of events behind
    uid=0), but instead of the fixed n_salts=16 that left a measured
    3.15x residual straggler at sf0.1, operators/skew.py:auto_salted_join
    runs the skew report's per-key count (one map-side-combinable row per
    key), reduces it to (hot_key_rows, total_rows), and sizes

        n_salts = clamp(ceil(8 * hot_rows / even_task_share), 1, 64)

    — the 8x oversalt shrinks each hot bucket well below the even task
    share so reducer-level birthday collisions between buckets stay
    cheap (the measured residual-flattening curve in SCALE.md r16:
    minimum-split 3.6x -> oversalted 1.59x at sf0.1).
    The graded oracle is the PLAIN left join — identical to the fixed-salt
    head's — because the derivation affects task balance, never the row
    set; the head asserts the measurement actually detected the hot key
    (derived n_salts > 1) so a silent measurement regression cannot grade
    green. Residual-spread flattening vs fixed 16 salts is measured in
    SCALE.md ("Auto-sized salting: the oversalt factor, measured")."""
    from distributed_api_etl_spark.operators.skew import auto_salted_join

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("user_id") % 10 < 3, F.lit(0))
        .otherwise(F.col("user_id"))
        .cast("bigint")
        .alias("uid"),
    )
    dim = (
        ev.groupBy("uid")
        .agg(F.count("*").alias("uid_events"))
        .where(F.col("uid") % 2 == 0)
    )
    joined, info = auto_salted_join(ev, dim, ["uid"], how="left")
    if info["n_salts"] <= 1:
        raise AssertionError(
            f"skew measurement failed to detect the hot key: {info}"
        )
    return joined.select("event_id", "uid", "uid_events")
