"""Product-analytics operators over the events stream table:
equi-width histogram and weekly cohort retention.

The two reporting shapes every event warehouse serves constantly; both
are pure two-level aggregations, so they exist here mainly to certify
the *composition* (scalar-stat broadcast → map-side bucketing →
re-aggregate) at oracle exactness.

No reference equivalent (SURVEY.md §0 provenance) — [N] north-star
scope.

Scale shape (100 TB lens):
- The histogram's min/max are a one-row aggregate broadcast back via
  crossJoin (no collect, no driver loop); bucketing is then map-side
  arithmetic and the final aggregate has 20 groups — partial
  aggregation collapses it to nearly nothing before the shuffle.
- Cohort retention shuffles on user_id twice (first-touch aggregate,
  activity dedup) and both joins are user-keyed, so the exchanges
  line up; the (cohort, offset) result domain is weeks × weeks —
  tiny at any corpus size.
- Floats: bucket arithmetic uses only IEEE-exact ops (- / floor) on
  doubles, applied identically in the oracle; retention_rate is an
  exact int/int division. Nothing is rounded, nothing accumulates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geoparquet_python_spark.functions.exact import broadcast_narrow
from geoparquet_python_spark.io import load_table
from geoparquet_python_spark.registry import query

_N_BINS = 20


@query(
    "q_value_histogram",
    oracle=f"""
    WITH stats AS (
      SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
    ),
    binned AS (
      SELECT LEAST(
               CAST(FLOOR((value - s.lo) / ((s.hi - s.lo) / {_N_BINS}))
                 AS BIGINT),
               {_N_BINS - 1}
             ) AS bin,
             value
      FROM events CROSS JOIN stats s
    )
    SELECT b.bin,
           s.lo + b.bin * ((s.hi - s.lo) / {_N_BINS}) AS bin_lo,
           s.lo + (b.bin + 1) * ((s.hi - s.lo) / {_N_BINS}) AS bin_hi,
           COUNT(*) AS n,
           CAST(SUM(CAST(b.value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
    FROM binned b CROSS JOIN stats s
    GROUP BY b.bin, s.lo, s.hi
    ORDER BY b.bin
    """,
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width {N}-bin histogram of events.value: global min/max
    from a one-row broadcast aggregate, map-side bucketing, 20-group
    re-aggregate. The max value folds into the last bin (LEAST cap),
    bin edges are reported from the same IEEE-exact arithmetic the
    oracle runs.
    """
    e = load_table(spark, sf_dir, "events").select("value")
    stats = e.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / _N_BINS
    binned = e.crossJoin(broadcast_narrow(stats)).select(
        "value",
        "lo",
        "hi",
        F.least(
            F.floor((F.col("value") - F.col("lo")) / width).cast("bigint"),
            F.lit(_N_BINS - 1),
        ).alias("bin"),
    )
    return (
        binned.groupBy("bin", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "bin",
            (F.col("lo") + F.col("bin") * width).alias("bin_lo"),
            (F.col("lo") + (F.col("bin") + 1) * width).alias("bin_hi"),
            "n",
            "sum_value",
        )
        .orderBy("bin")
    )


@query(
    "q_user_cohort_retention",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
    ),
    cohort AS (
      SELECT user_id, MIN(w) AS c FROM act GROUP BY user_id
    ),
    sizes AS (
      SELECT c, COUNT(*) AS cohort_size FROM cohort GROUP BY c
    ),
    ret AS (
      SELECT co.c, CAST(date_diff('day', co.c, a.w) / 7 AS BIGINT) AS week_offset,
             COUNT(DISTINCT a.user_id) AS n_active
      FROM act a JOIN cohort co ON co.user_id = a.user_id
      GROUP BY co.c, week_offset
    )
    SELECT CAST(r.c AS TIMESTAMP) AS cohort_week,
           r.week_offset,
           r.n_active,
           s.cohort_size,
           r.n_active * 1.0 / s.cohort_size AS retention_rate
    FROM ret r JOIN sizes s ON s.c = r.c
    ORDER BY cohort_week, week_offset
    """,
)
def q_user_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users are cohorted by their
    first-active ISO week; each later active week counts toward that
    cohort's week-offset retention, reported as an exact n/size rate.

    Both joins are user-keyed (activity ⋈ cohort) or week-keyed
    (result ⋈ sizes, a weeks-sized frame), so the heavy exchanges all
    hash on user_id and line up; the result domain is weeks², constant
    in corpus size.
    """
    act = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("week", "ts").alias("w"))
        .distinct()
    )
    cohort = act.groupBy("user_id").agg(F.min("w").alias("c"))
    sizes = cohort.groupBy("c").agg(F.count(F.lit(1)).alias("cohort_size"))
    ret = (
        act.join(cohort, "user_id")
        .groupBy(
            "c",
            (F.datediff("w", "c") / 7).cast("bigint").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return (
        ret.join(broadcast_narrow(sizes), "c")
        .select(
            F.col("c").alias("cohort_week"),
            "week_offset",
            "n_active",
            "cohort_size",
            (F.col("n_active") * F.lit(1.0) / F.col("cohort_size")).alias(
                "retention_rate"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


_CUTOVER = "2024-01-21"


@query(
    "q_incremental_rollup_merge",
    oracle="""
    SELECT event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY event_type, day
    """,
)
def q_incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-aggregation contract: a PRE-COMPUTED historical
    rollup (events before the cutover day, aggregated and materialized
    — standing in for yesterday's stored rollup table) merged with a
    freshly-aggregated delta must equal a full recompute bit-for-bit.
    That equality is exactly what the oracle checks (it recomputes from
    scratch), and it holds because the partials carry DECIMAL(38,6)
    sums and int64 counts — associative, so partial-merge order cannot
    matter. This is the 100 TB shape: the daily job aggregates ONLY
    the delta and merges rollup-sized frames; the full-history scan
    happens never.
    """
    from geoparquet_python_spark.functions.exact import materialize

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        "ts",
        "value",
    )
    cut = F.lit(_CUTOVER).cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        # keep the MERGEABLE forms: count + decimal sum (not avg/double)
        return df.groupBy("event_type", "day").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("sum_dec"),
        )

    historical = materialize(partial(e.where(F.col("ts") < cut)))
    delta = partial(e.where(F.col("ts") >= cut))
    merged = (
        historical.unionByName(delta)
        .groupBy("event_type", "day")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_dec").alias("sum_dec"),
        )
    )
    return merged.select(
        "event_type",
        "day",
        "n_events",
        F.col("sum_dec").cast("double").alias("sum_value"),
    ).orderBy("event_type", "day")


# --------------------------------------------------------------------------
# AN+: correlation analysis (integer-exact Pearson over a dense grid)
# --------------------------------------------------------------------------


@query(
    "q_hourly_type_correlation",
    oracle="""
    WITH days AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day FROM events
    ),
    grid AS (
      SELECT day, h.h AS hour
      FROM days CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h) h
    ),
    hc AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(hour(ts) AS BIGINT) AS hour,
             CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS x,
             CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT grid.day, grid.hour,
             COALESCE(hc.x, 0) AS x, COALESCE(hc.y, 0) AS y
      FROM grid LEFT JOIN hc ON hc.day = grid.day AND hc.hour = grid.hour
    ),
    m AS (
      SELECT day,
             COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM g GROUP BY day
    )
    SELECT day, CAST(sx AS BIGINT) AS n_purchases,
           CAST(sy AS BIGINT) AS n_errors,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
                THEN (n * sxy - sx * sy) * 1.0
                     / SQRT((n * sxx - sx * sx) * 1.0
                            * (n * syy - sy * sy))
                ELSE NULL END AS pearson_r
    FROM m
    ORDER BY day
    """,
)
def q_hourly_type_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day Pearson correlation between the hourly purchase count
    and the hourly error count — the 'do errors move with load'
    diagnostic. Each day is a dense 24-point series (empty hours count
    0 via a generated grid, so missing hours can't bias the moments).

    Determinism: counts are integers, so ALL five moment sums are
    exact int64 arithmetic — the only doubles are one final
    multiply/sqrt/divide sequence applied identically on both engines
    (same trick as q_qty_dispersion). Zero-variance days yield NULL
    on both sides. Shape: one shuffle on (day, hour) for the counts,
    one on day for the moments; the hour grid explodes from the
    days frame (rows = days x 24), never from the fact table.
    """
    e = load_table(spark, sf_dir, "events")
    hc = (
        e.select(
            F.to_date(F.date_trunc("day", "ts")).alias("day"),
            F.hour("ts").alias("hour"),
            "event_type",
        )
        .groupBy("day", "hour")
        .agg(
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("x"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("y"),
        )
    )
    grid = (
        e.select(F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .distinct()
        .select("day", F.explode(F.sequence(F.lit(0), F.lit(23))).alias("hour"))
    )
    g = (
        grid.join(hc, ["day", "hour"], "left")
        .select(
            "day",
            F.coalesce("x", F.lit(0)).cast("bigint").alias("x"),
            F.coalesce("y", F.lit(0)).cast("bigint").alias("y"),
        )
    )
    m = g.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    r = F.when(
        vx * vy > 0,
        cov * F.lit(1.0) / F.sqrt(vx * F.lit(1.0) * vy),
    )
    return m.select(
        "day",
        F.col("sx").alias("n_purchases"),
        F.col("sy").alias("n_errors"),
        r.alias("pearson_r"),
    ).orderBy("day")


# --------------------------------------------------------------------------
# Clickstream path analysis: session-bounded event-type transitions
# --------------------------------------------------------------------------

_TRANS_GAP_MIN = 30  # same-session transition window (minutes)


@query(
    "q_event_transition_matrix",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             lead(event_type) OVER w AS next_type,
             lead(ts) OVER w AS next_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tr AS (
      SELECT event_type AS from_type, next_type AS to_type
      FROM seq
      WHERE next_type IS NOT NULL
        AND epoch_us(next_ts) - epoch_us(ts) <= {_TRANS_GAP_MIN} * 60 * 1000000
    ),
    cnt AS (
      SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM tr GROUP BY from_type, to_type
    ),
    tot AS (
      SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_total
      FROM cnt GROUP BY from_type
    )
    SELECT c.from_type, c.to_type, c.n,
           (c.n * 1000000) // t.row_total AS p_ppm
    FROM cnt c JOIN tot t ON t.from_type = c.from_type
    ORDER BY c.from_type, c.to_type
    """,
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream PATH analysis: the first-order Markov transition
    matrix of event types, counting only SAME-SESSION transitions
    (successor within {_TRANS_GAP_MIN} minutes — the sessionization
    gap rule applied to the pair, so cross-visit "transitions" don't
    pollute the model). Row-normalized probabilities in exact ppm
    (integer div). The funnel/recommendation precursor: where do
    users actually go next from each state.

    Plan: ONE user-keyed window (lead over (ts, event_id) — the same
    frame every sessionizer uses), a |types|²-bounded count, a
    |types|-row total join. The matrix is vocabulary-sized at any
    corpus scale; only the lead window touches corpus rows."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
        ).alias("gap_us"),
    )
    tr = seq.where(
        F.col("next_type").isNotNull()
        & (F.col("gap_us") <= _TRANS_GAP_MIN * 60 * 1_000_000)
    )
    cnt = tr.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = cnt.groupBy("from_type").agg(
        F.sum("n").cast("bigint").alias("row_total")
    )
    return (
        cnt.join(tot, "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.expr("n * 1000000 div row_total").alias("p_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


# --------------------------------------------------------------------------
# Change-point detection: integer-exact CUSUM over daily volumes
# --------------------------------------------------------------------------


@query(
    "q_daily_volume_cusum",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY date_trunc('day', ts)
    ),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS n
      FROM daily
    ),
    run AS (
      SELECT d, c,
             CAST(SUM(c) OVER (ORDER BY d) AS BIGINT) AS prefix,
             CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i
      FROM daily
    )
    SELECT r.d AS day, r.c AS n_events,
           r.prefix * o.n - r.i * o.t AS cusum_num,
           abs(r.prefix * o.n - r.i * o.t) * 10 > o.n * o.t AS drifted
    FROM run r CROSS JOIN tot o
    ORDER BY r.d
    """,
)
def q_daily_volume_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point screen over daily event volume: the running
    deviation of observed counts from the uniform-rate expectation,
    kept INTEGER-EXACT by clearing denominators — cusum_i =
    Σ_{j<=i} c_j − i·(T/n) is stored as prefix·n − i·T (int64), and
    the drift flag |cusum| > T/10 compares |num|·10 > n·T. A sustained
    rate shift accumulates linearly in the CUSUM while noise cancels —
    the classic ingest-volume monitor (complementing the pointwise
    MAD/3σ outlier screens, which miss slow drifts).

    Plan: one corpus-scan daily aggregate (map-side combined), then
    ALL window work runs over the days-sized frame (≤ n_days rows —
    the post-aggregation global-window pattern the plan guards allow)
    plus a one-row totals crossJoin."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    # to_date, not date_trunc: DuckDB's date_trunc('day') yields DATE
    # while Spark's yields TIMESTAMP — same grouping and order, but the
    # DATE form lets the engine-side hash comparator cover this query
    # (round 11; a ts-vs-date family split was its one blocked column).
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    tot = daily.agg(
        F.sum("n_events").cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    run = daily.select(
        "day",
        "n_events",
        F.sum("n_events").over(w).cast("bigint").alias("prefix"),
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("i"),
    )
    num = F.col("prefix") * F.col("n") - F.col("i") * F.col("t")
    return (
        run.crossJoin(F.broadcast(tot))
        .select(
            "day",
            "n_events",
            num.alias("cusum_num"),
            (F.abs(num) * 10 > F.col("n") * F.col("t")).alias("drifted"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Per-key exact OLS trend (rational slope — integer algebra end to end)
# --------------------------------------------------------------------------


@query(
    "q_user_value_trend",
    oracle="""
    WITH x AS (
      SELECT user_id,
             date_diff('second',
                       MIN(ts) OVER (PARTITION BY user_id), ts) // 60
               AS x_min,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    s AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x_min) AS BIGINT) AS sx,
             CAST(SUM(cents) AS BIGINT) AS sy,
             CAST(SUM(x_min * x_min) AS BIGINT) AS sxx,
             CAST(SUM(x_min * cents) AS BIGINT) AS sxy
      FROM x GROUP BY user_id
    )
    SELECT user_id, n AS n_events,
           CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
           CASE WHEN n * sxy - sx * sy > 0 THEN 'up'
                WHEN n * sxy - sx * sy < 0 THEN 'down'
                ELSE 'flat' END AS trend
    FROM s
    WHERE n >= 2 AND n * sxx - sx * sx > 0
    ORDER BY user_id
    """,
)
def q_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS trend of event value over time, EXACT: the least-
    squares slope is reported as the RATIONAL (n·Σxy − Σx·Σy) /
    (n·Σx² − (Σx)²) in int64 — x is minutes since the user's first
    event (keeps every product far inside int64 at any realistic
    per-key history), y is micro-cent value. No division ever
    happens, so there is no float summation-order drift and no
    truncating-div sign hazard for negative slopes — the rational IS
    the answer, and sign(num) is the trend verdict (den > 0 by
    construction whenever two distinct x exist; single-instant users
    are filtered identically on both sides).

    Plan: one per-user window MIN (same user-keyed exchange the
    aggregate needs — AQE reuses it) and ONE groupBy computing the
    five sufficient statistics — the classic 'sufficient statistics,
    not data movement' shape: at 100 TB each user contributes five
    int64s to the shuffle regardless of history length, and the
    second-moment products are associative so partial aggregation is
    map-side. Seconds are compared as floor-to-second diffs
    (unix_timestamp truncation == DuckDB date_diff boundary count
    for positive spans), then floor-divided to minutes — identical
    integer grids on both engines."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    wmin = Window.partitionBy("user_id")
    # div (not '/'): '/' then cast would round; div truncates, which
    # equals floor here because the span is non-negative.
    x_min = F.expr(
        "CAST((unix_timestamp(ts) - unix_timestamp(min_ts)) div 60"
        " AS BIGINT)"
    )
    base = e.select(
        "user_id",
        "ts",
        F.min("ts").over(wmin).alias("min_ts"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    ).select("user_id", x_min.alias("x_min"), "cents")
    s = base.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x_min").cast("bigint").alias("sx"),
        F.sum("cents").cast("bigint").alias("sy"),
        F.sum(F.col("x_min") * F.col("x_min")).cast("bigint").alias("sxx"),
        F.sum(F.col("x_min") * F.col("cents")).cast("bigint").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        s.where((F.col("n") >= 2) & (den > 0))
        .select(
            "user_id",
            F.col("n").alias("n_events"),
            num.cast("bigint").alias("slope_num"),
            den.cast("bigint").alias("slope_den"),
            F.when(num > 0, F.lit("up"))
            .when(num < 0, F.lit("down"))
            .otherwise(F.lit("flat"))
            .alias("trend"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Rolling 7-day distinct active users (WAU) — fan-out, not a window
# --------------------------------------------------------------------------

_WAU_DAYS = 7


@query(
    "q_rolling_weekly_active_users",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events
    ),
    mx AS (SELECT MAX(day) AS max_day FROM du),
    contrib AS (
      SELECT r.report_day, du.user_id
      FROM du, mx,
      LATERAL (
        SELECT unnest(generate_series(du.day,
                                      least(du.day + {_WAU_DAYS - 1},
                                            mx.max_day),
                                      INTERVAL 1 DAY)) AS report_day
      ) r
    )
    SELECT CAST(report_day AS DATE) AS report_day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
    FROM contrib
    GROUP BY report_day
    ORDER BY report_day
    """,
)
def q_rolling_weekly_active_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rolling {_WAU_DAYS}-day distinct active users per day (WAU) —
    the windowed COUNT(DISTINCT) no SQL engine allows as a window
    function, restructured as dataflow: each (day, user) activity
    fact FANS OUT to the ≤{_WAU_DAYS} report days it contributes to
    (a map-side sequence/explode, bounded by the window length), then
    ONE distinct aggregate keyed on report day.

    Why not a window: collect_set over an unpartitioned range frame
    would funnel every (day, user) pair through one task — the
    unbounded-window scale-killer the plan guards ban. Here the only
    shuffles are the day-level distinct (corpus → days×users rows)
    and the report-day aggregate, whose partial (map-side) distinct
    makes the fan-out factor-{_WAU_DAYS} shuffle shrink before it
    moves. The trailing edge caps at the corpus's max day (one-row
    broadcast), matching the oracle's LATERAL grid exactly."""
    e = load_table(spark, sf_dir, "events")
    du = e.select(
        F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
    ).distinct()
    mx = du.agg(F.max("day").alias("max_day"))
    contrib = (
        du.crossJoin(F.broadcast(mx))
        .select(
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.least(
                        F.date_add("day", _WAU_DAYS - 1), F.col("max_day")
                    ),
                    F.expr("INTERVAL 1 DAY"),
                )
            ).alias("report_day"),
            "user_id",
        )
    )
    return (
        contrib.groupBy("report_day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
        .orderBy("report_day")
    )


# --------------------------------------------------------------------------
# Clickstream path mining: top session paths
# --------------------------------------------------------------------------

_PATH_TOPK = 15
# Per-session event cap for the collected path: the 30-minute gap rule
# bounds nothing for a continuously-active key (bots, monitors), so an
# uncapped collect_list is user-history-sized in the worst case
# (round-6 ADVICE). Sessions longer than the cap keep their first
# _PATH_MAX_EVENTS events and an explicit '>…' truncation marker —
# mirrored in the oracle, so both engines mine identical (possibly
# marked) paths.
_PATH_MAX_EVENTS = 64


@query(
    "q_session_top_paths",
    oracle=f"""
    WITH s AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > {_TRANS_GAP_MIN} * 60 * 1000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s2 AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ),
    s3 AS (
      SELECT user_id, sid, ts, event_id, event_type,
             row_number() OVER (PARTITION BY user_id, sid
                                ORDER BY ts, event_id) AS rn
      FROM s2
    ),
    p AS (
      SELECT user_id, sid,
             string_agg(event_type, '>' ORDER BY ts, event_id)
               FILTER (WHERE rn <= {_PATH_MAX_EVENTS})
             || CASE WHEN COUNT(*) > {_PATH_MAX_EVENTS}
                     THEN '>…' ELSE '' END AS path
      FROM s3 GROUP BY user_id, sid
    )
    SELECT path,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM p GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT {_PATH_TOPK}
    """,
)
def q_session_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream PATH mining: the {K} most common whole-session
    event-type sequences (30-minute-gap sessions — the repo's shared
    sessionization rule) with session and distinct-user counts. The
    transition matrix (q_event_transition_matrix) is this table's
    first-order marginal; full paths expose the funnels and loops a
    Markov model averages away.

    Plan: ONE user-keyed window pass (lag + running-sum session ids —
    the stateful sessionizer's exact frame, batch form), a per-session
    ordered fold done INSIDE the groupBy (sort_array over
    (ts, event_id, type) structs → concat_ws, no second window), then
    a path-keyed count + distinct-user aggregate and a TakeOrdered
    top-{K}. The collected struct array is HARD-capped at
    _PATH_MAX_EVENTS per session (truncation marked '>…', oracle-
    mirrored): the gap rule alone bounds nothing for a continuously
    active key, so the cap — not the rule — is what keeps the
    aggregation row session-sized at scale. The path domain the final
    aggregate shuffles is (distinct paths) — power-law small — and the
    result is driver-bound at {K} rows."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(
        F.lag("ts").over(w)
    )
    s = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            gap_us.isNull()
            | (gap_us > _TRANS_GAP_MIN * 60 * 1_000_000),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("brk"),
    )
    s2 = s.withColumn(
        "sid",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    # Cap BEFORE collecting: the rank filter runs in a spillable window
    # sort, so no aggregation buffer ever holds more than the cap
    # (collect_list skips the NULLs the `when` produces past it).
    wsess = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    s3 = s2.withColumn("rn", F.row_number().over(wsess))
    paths = (
        s3.groupBy("user_id", "sid")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("rn") <= _PATH_MAX_EVENTS,
                        F.struct("ts", "event_id", "event_type"),
                    )
                )
            ).alias("evs"),
            F.count(F.lit(1)).alias("n_ev"),
        )
        .select(
            "user_id",
            F.concat(
                F.concat_ws(">", F.expr("transform(evs, e -> e.event_type)")),
                F.when(
                    F.col("n_ev") > _PATH_MAX_EVENTS, F.lit(">…")
                ).otherwise(F.lit("")),
            ).alias("path"),
        )
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(_PATH_TOPK)
    )


# --------------------------------------------------------------------------
# Recursive CTE (Spark 4 SQL surface): reachability over the
# session-transition graph
# --------------------------------------------------------------------------

_REACH_SRC = "signup"
_REACH_MAX_HOPS = 6


@query(
    "q_reachable_event_types",
    oracle=f"""
    WITH RECURSIVE seq AS (
      SELECT event_type,
             lead(event_type) OVER w AS next_type,
             epoch_us(lead(ts) OVER w) - epoch_us(ts) AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    edges AS (
      SELECT DISTINCT event_type AS src, next_type AS dst
      FROM seq
      WHERE next_type IS NOT NULL
        AND gap_us <= {_TRANS_GAP_MIN} * 60 * 1000000
    ),
    reach(t, hops) AS (
      SELECT '{_REACH_SRC}' AS t, 0 AS hops
      UNION ALL
      SELECT e.dst, r.hops + 1
      FROM reach r JOIN edges e ON e.src = r.t
      WHERE r.hops < {_REACH_MAX_HOPS}
    )
    SELECT t AS event_type, CAST(MIN(hops) AS BIGINT) AS min_hops
    FROM reach GROUP BY t
    ORDER BY min_hops, event_type
    """,
)
def q_reachable_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 RECURSIVE CTE surface: which event types are reachable
    from '{SRC}' through observed SAME-SESSION transitions, and in
    how few hops — BFS as declarative SQL, the query shape Spark
    could not express before 4.0 (this repo's connected-components
    operators hand-roll star contraction instead precisely because
    3.x lacked this; the recursive form is registered on the
    transition graph, where it is the RIGHT tool).

    Scale shape: the corpus-sized work is the ONE lead-window pass
    that derives the edge set — identical to
    q_event_transition_matrix's frame — which collapses to the
    ≤|types|² distinct-edge relation before any recursion; the
    iteration then runs on a vocabulary-sized graph with a hop
    bound, so recursion depth never touches corpus rows. The oracle
    is the same recursive SQL on DuckDB — both engines execute true
    recursive plans."""
    return spark.sql(
        f"""
    WITH RECURSIVE seq AS (
      SELECT event_type,
             lead(event_type) OVER w AS next_type,
             unix_micros(lead(ts) OVER w) - unix_micros(ts) AS gap_us
      FROM {{events}}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    edges AS (
      SELECT DISTINCT event_type AS src, next_type AS dst
      FROM seq
      WHERE next_type IS NOT NULL
        AND gap_us <= {_TRANS_GAP_MIN} * 60 * 1000000
    ),
    reach(t, hops) AS (
      SELECT '{_REACH_SRC}' AS t, 0 AS hops
      UNION ALL
      SELECT e.dst, r.hops + 1
      FROM reach r JOIN edges e ON e.src = r.t
      WHERE r.hops < {_REACH_MAX_HOPS}
    )
    SELECT t AS event_type, CAST(MIN(hops) AS BIGINT) AS min_hops
    FROM reach GROUP BY t
    ORDER BY min_hops, event_type
    """,
        events=load_table(spark, sf_dir, "events"),
    )


# --------------------------------------------------------------------------
# Unpivot / melt (wide → long) — the inverse of C7's pivot
# --------------------------------------------------------------------------


@query(
    "q_unpivot_status_metrics",
    oracle="""
    WITH wide AS (
      SELECT o_orderstatus,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS total_cents,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
      FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, metric, value FROM (
      SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value
      FROM wide
      UNION ALL
      SELECT o_orderstatus, 'total_cents', total_cents FROM wide
      UNION ALL
      SELECT o_orderstatus, 'n_customers', n_customers FROM wide
    )
    ORDER BY o_orderstatus, metric
    """,
)
def q_unpivot_status_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide → long reshaping with the built-in `DataFrame.unpivot`
    (melt): per-status order metrics land as (status, metric, value)
    rows — the inverse surface of C7's pivot, what every metric-store
    ingestion does to a reporting table. The unpivot is a zero-shuffle
    Expand node over the already-aggregated |statuses|-row frame (the
    oracle spells it as the equivalent UNION ALL); cents are exact
    int64 so one BIGINT value column types all three metrics."""
    o = load_table(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
    )
    return wide.unpivot(
        ids=["o_orderstatus"],
        values=["n_orders", "total_cents", "n_customers"],
        variableColumnName="metric",
        valueColumnName="value",
    ).orderBy("o_orderstatus", "metric")


# ---------------------------------------------------------------------------
# Round-8: strict ordered funnel — view -> click -> purchase
# ---------------------------------------------------------------------------

_FUNNEL_STEPS = ("view", "click", "purchase")


@query(
    "q_funnel_conversion",
    oracle=f"""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = '{_FUNNEL_STEPS[1]}' AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = '{_FUNNEL_STEPS[2]}' AND e.ts > s2.t2
      GROUP BY e.user_id
    ),
    pop AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
            FROM events)
    SELECT p.n_users,
           CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_step1,
           CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n_step2,
           CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n_step3,
           CAST((SELECT COUNT(*) FROM s2) * 1000000
                // GREATEST((SELECT COUNT(*) FROM s1), 1) AS BIGINT)
             AS conv12_ppm,
           CAST((SELECT COUNT(*) FROM s3) * 1000000
                // GREATEST((SELECT COUNT(*) FROM s2), 1) AS BIGINT)
             AS conv23_ppm,
           CAST((SELECT CAST(SUM(epoch_us(s3.t3) - epoch_us(s1.t1))
                             AS BIGINT)
                 FROM s3 JOIN s1 ON s1.user_id = s3.user_id) AS BIGINT)
             AS total_funnel_us
    FROM pop p
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict ORDERED funnel (the product-analytics staple this
    engine's transition matrix and session paths do not answer):
    users who viewed, then clicked strictly AFTER their first view,
    then purchased strictly after that first qualifying click —
    first-occurrence semantics per step, so a click before any view
    does not count. Reports per-step populations, step conversion
    rates (ppm, exact integer division), and the summed
    first-view -> first-qualifying-purchase latency in exact
    microseconds.

    Plan shape: three user-keyed conditional MIN aggregates, each
    consuming the previous step's (user, t) frame through an equi-join
    on user_id — the same hash partitioning at every stage, so AQE
    reuses the exchange; no windows over raw events, no ordered
    collect per user (the collect_list sessionization shape would
    carry whole event lists through the shuffle). Each stage's frame
    is |users|-sized. Latency sums in epoch-us int64 (exact; both
    engines' timestamp subtraction is integer microseconds)."""
    e = load_table(spark, sf_dir, "events")
    s1 = e.where(F.col("event_type") == _FUNNEL_STEPS[0]).groupBy(
        "user_id"
    ).agg(F.min("ts").alias("t1"))
    s2 = (
        e.where(F.col("event_type") == _FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.where(F.col("event_type") == _FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    pop = e.agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    n1 = s1.agg(F.count(F.lit(1)).cast("bigint").alias("n_step1"))
    n2 = s2.agg(F.count(F.lit(1)).cast("bigint").alias("n_step2"))
    n3 = s3.agg(F.count(F.lit(1)).cast("bigint").alias("n_step3"))
    lat = (
        s3.join(s1, "user_id")
        .agg(
            F.sum(
                F.unix_micros("t3") - F.unix_micros("t1")
            )
            .cast("bigint")
            .alias("total_funnel_us")
        )
    )
    return (
        pop.crossJoin(n1)
        .crossJoin(n2)
        .crossJoin(n3)
        .crossJoin(lat)
        .select(
            "n_users",
            "n_step1",
            "n_step2",
            "n_step3",
            F.expr(
                "CAST(n_step2 * 1000000 DIV GREATEST(n_step1, 1) AS BIGINT)"
            ).alias("conv12_ppm"),
            F.expr(
                "CAST(n_step3 * 1000000 DIV GREATEST(n_step2, 1) AS BIGINT)"
            ).alias("conv23_ppm"),
            F.col("total_funnel_us").cast("bigint").alias("total_funnel_us"),
        )
    )


# --------------------------------------------------------------------------
# Round-12: sketch-based join-cardinality estimation — the pre-flight a
# 100 TB planner runs BEFORE committing to a join order. Each side is
# reduced to a W-bucket hashed key-count histogram (one map-side-
# combinable aggregate per side, mergeable by addition — per-shard
# histograms answer cross-shard join sizing); the estimate
# Σ_buckets cA·cB is ONE-SIDED (≥ the true Σ_keys nA·nB: hash
# collisions can only add cross terms, never remove the true ones),
# the same guarantee family as CMS/Bloom, and deterministic because
# the bucket hash is md5. The exact join count rides along as the
# certificate.
# --------------------------------------------------------------------------

_JC_W = 1024  # key-histogram buckets per side
_JC_SIZE_MIN = 40  # dim filter: "large parts" (bloomjoin's predicate)

_JC_BUCKET = (
    "CAST(('0x' || substr(md5('jc_' || CAST({key} AS VARCHAR)), 1, 15)) "
    f"AS BIGINT) % {_JC_W}"
)
_JC_BUCKET_SPARK = (
    "CAST(conv(substring(md5(concat('jc_', CAST({key} AS STRING))), 1, 15),"
    f" 16, 10) AS BIGINT) % {_JC_W}"
)


@query(
    "q_join_cardinality_estimate",
    oracle=f"""
    WITH ha AS (
      SELECT {_JC_BUCKET.format(key="l_partkey")} AS b,
             CAST(COUNT(*) AS BIGINT) AS ca
      FROM lineitem GROUP BY 1
    ),
    hb AS (
      SELECT {_JC_BUCKET.format(key="p_partkey")} AS b,
             CAST(COUNT(*) AS BIGINT) AS cb
      FROM part WHERE p_size >= {_JC_SIZE_MIN} GROUP BY 1
    ),
    est AS (
      SELECT CAST(SUM(CAST(ca AS HUGEINT) * cb) AS BIGINT) AS est_rows,
             CAST(MAX(CAST(ca AS HUGEINT) * cb) AS BIGINT)
               AS max_bucket_product
      FROM ha JOIN hb USING (b)
    ),
    exact AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS exact_rows
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_size >= {_JC_SIZE_MIN}
    )
    SELECT e.est_rows, x.exact_rows,
           e.est_rows - x.exact_rows AS overcount,
           e.est_rows >= x.exact_rows AS never_undercounts,
           e.max_bucket_product
    FROM est e CROSS JOIN exact x
    """,
)
def q_join_cardinality_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Estimated vs exact cardinality of lineitem ⋈ large-parts on
    partkey, from two {_JC_W}-bucket hashed key-count histograms:
    est = Σ_buckets cA·cB ≥ exact = Σ_keys nA·nB (one-sided by
    construction — collisions only ADD cross terms), asserted in-plan
    via `never_undercounts` against the oracle.

    Why it matters at 100 TB: deciding join order / broadcast side /
    skew handling needs the join's output size BEFORE running it, and
    each side's histogram costs one streamed map-side-combinable
    aggregate to {_JC_W} int64s — mergeable by addition across shards
    (per-shard histograms answer cross-shard join sizing with no key
    shuffle at all). The exact leg (the full join count) exists only
    as the certificate, exactly like the CMS/HLL certification rows.
    Skew diagnosis falls out for free: max_bucket_product is the
    upper bound any single hash bucket contributes — a planner's
    skew-split trigger."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part").where(
        F.col("p_size") >= _JC_SIZE_MIN
    )
    ha = (
        li.select(
            F.expr(_JC_BUCKET_SPARK.format(key="l_partkey")).alias("b")
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ca"))
    )
    hb = (
        pt.select(
            F.expr(_JC_BUCKET_SPARK.format(key="p_partkey")).alias("b")
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cb"))
    )
    est = ha.join(hb, "b").agg(
        F.sum(F.expr("CAST(ca AS DECIMAL(38,0)) * cb"))
        .cast("bigint")
        .alias("est_rows"),
        F.max(F.expr("CAST(ca AS DECIMAL(38,0)) * cb"))
        .cast("bigint")
        .alias("max_bucket_product"),
    )
    exact = (
        li.join(pt, li["l_partkey"] == pt["p_partkey"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_rows"))
    )
    return est.crossJoin(broadcast_narrow(exact)).select(
        "est_rows",
        "exact_rows",
        (F.col("est_rows") - F.col("exact_rows")).alias("overcount"),
        (F.col("est_rows") >= F.col("exact_rows")).alias(
            "never_undercounts"
        ),
        "max_bucket_product",
    )
