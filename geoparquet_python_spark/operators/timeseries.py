"""Time-series regularization operators over the events stream table:
gap-filled resampling with forward fill, and OHLC bucket rollup.

The hypertable-style pair every metrics/feature pipeline needs: (1)
resample an irregular event stream onto a regular grid, carrying the
last observation forward through empty buckets (feature-store
"as-of ffill"); (2) downsample to per-bucket open/high/low/close
summaries (the canonical lossy rollup).

No reference equivalent (SURVEY.md §0 provenance) — [N] north-star
scope alongside the as-of join (operators/asof.py).

Scale shape (100 TB lens):
- Bucketing is a map-side date_trunc; the only shuffles are on the
  (key, bucket) aggregate and the per-key window — the same hash
  partitioning, so AQE coalesces them and the window reuses the agg's
  exchange where sizes allow.
- Grid generation is sequence()+explode off a per-key 2-row span
  aggregate: grid size is (span / step) per key, never events × grid
  (no cross join). Forward fill is one pass of last(ignorenulls) —
  running state, not a self-join per gap.
- "Last observation in bucket" picks the row with the greatest
  (ts, event_id) pair — event_id is unique, so re-runs and
  repartitions pick the same row (determinism contract, registry.py).
  Since r12 it is a max_by aggregate (map-side combinable, no window
  sort); the DuckDB oracle spells the same total order as row_number.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geoparquet_python_spark.functions.exact import broadcast_narrow, materialize
from geoparquet_python_spark.io import load_table
from geoparquet_python_spark.registry import query


@query(
    "q_events_gapfill_hourly",
    oracle="""
    WITH e AS (
      SELECT user_id, date_trunc('hour', ts) AS h, ts, event_id, value
      FROM events
    ),
    rn AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY user_id, h ORDER BY ts DESC, event_id DESC
             ) AS rz
      FROM e
    ),
    b AS (
      SELECT user_id, h, COUNT(*) AS n_events,
             MAX(CASE WHEN rz = 1 THEN value END) AS last_in_bucket
      FROM rn GROUP BY user_id, h
    ),
    span AS (
      SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM e GROUP BY user_id
    ),
    grid AS (
      SELECT user_id,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS bucket
      FROM span
    ),
    j AS (
      SELECT g.user_id, g.bucket,
             COALESCE(b.n_events, 0) AS n_events,
             b.last_in_bucket
      FROM grid g
      LEFT JOIN b ON b.user_id = g.user_id AND b.h = g.bucket
    )
    SELECT user_id,
           CAST(bucket AS TIMESTAMP) AS bucket,
           CAST(n_events AS BIGINT) AS n_events,
           last_value(last_in_bucket IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value
    FROM j
    ORDER BY user_id, bucket
    """,
)
def q_events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's event stream onto an hourly grid spanning
    their first→last active hour; empty buckets get n_events = 0 and
    the last observed value carried forward (LOCF).

    The grid never leaves the user's own span, so output is
    Σ_user (span_hours) rows; the first grid point always holds an
    observation (the span starts at an event), so filled_value is
    never NULL.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("hour", "ts").alias("h"),
        "ts",
        "event_id",
        "value",
    )
    # Optimization r12 (guide §2.3/§2.4): "last event in bucket" as a
    # max_by aggregate ordered on struct(ts, event_id) — the SAME
    # deterministic total order the oracle spells with row_number (the
    # streaming OHLC twin q_stream_ohlc_hourly has used this exact
    # equivalence against a shared row_number oracle since round 5).
    # vs the previous row_number-window + groupBy: the window's
    # per-partition sort disappears and the aggregate gains MAP-SIDE
    # partial aggregation, so the (user_id, h) exchange carries one
    # partial row per bucket per map task instead of every event.
    b = materialize(
        e.groupBy("user_id", "h").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max_by("value", F.struct("ts", "event_id")).alias(
                "last_in_bucket"
            ),
        )
    )
    # Per-user span from the BUCKET frame, not a second events scan:
    # min/max of h over (user_id, h) rows equals min/max over events
    # (every event lands in its bucket). b is materialized so the scan
    # and bucket aggregation run ONCE for both consumers — the plan
    # drops from two full events scans to one.
    grid = (
        b.groupBy("user_id")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket"),
        )
    )
    j = grid.join(
        b.withColumnRenamed("h", "bucket"), ["user_id", "bucket"], "left"
    )
    ffill = Window.partitionBy("user_id").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        j.select(
            "user_id",
            "bucket",
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
            F.last("last_in_bucket", ignorenulls=True)
            .over(ffill)
            .alias("filled_value"),
        )
        .orderBy("user_id", "bucket")
    )


@query(
    "q_events_ohlc_hourly",
    oracle="""
    WITH e AS (
      SELECT event_type, date_trunc('hour', ts) AS h, ts, event_id, value
      FROM events
    ),
    rn AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY event_type, h ORDER BY ts, event_id
             ) AS ra,
             row_number() OVER (
               PARTITION BY event_type, h ORDER BY ts DESC, event_id DESC
             ) AS rz
      FROM e
    )
    SELECT event_type,
           CAST(h AS TIMESTAMP) AS bucket,
           MAX(CASE WHEN ra = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rz = 1 THEN value END) AS close,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
    FROM rn
    GROUP BY event_type, h
    ORDER BY event_type, bucket
    """,
)
def q_events_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC rollup per event type: open/close pick the first/
    last event by the deterministic (ts, event_id) order, high/low are
    plain min/max, and the volume sum goes through the DECIMAL(38,6)
    exactness contract.

    One window + one aggregate over the same (event_type, hour) hash
    partitioning — the exchange is shared, so the rollup costs a
    single shuffle of the events table at any scale.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", "ts").alias("h"),
        "ts",
        "event_id",
        "value",
    )
    # Optimization r12 (guide §2.3): open/close via min_by/max_by on
    # struct(ts, event_id) — the exact formulation the STREAMING twin
    # q_stream_ohlc_hourly below has always used against this same
    # shared row_number oracle, so the equivalence is already
    # oracle-certified. vs the previous two row_number windows: both
    # per-partition sorts disappear and the whole rollup becomes ONE
    # hash aggregate with map-side partials — the (event_type, h)
    # exchange now carries one partial row per bucket per map task
    # instead of every event twice through a window sort.
    ordk = F.struct("ts", "event_id")
    return (
        e.groupBy("event_type", F.col("h").alias("bucket"))
        .agg(
            F.min_by("value", ordk).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ordk).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type", "bucket")
    )


@query(
    "q_stream_ohlc_hourly",
    oracle="""
    WITH e AS (
      SELECT event_type, date_trunc('hour', ts) AS h, ts, event_id, value
      FROM events
    ),
    rn AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY event_type, h ORDER BY ts, event_id
             ) AS ra,
             row_number() OVER (
               PARTITION BY event_type, h ORDER BY ts DESC, event_id DESC
             ) AS rz
      FROM e
    )
    SELECT event_type,
           CAST(h AS TIMESTAMP) AS bucket,
           MAX(CASE WHEN ra = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rz = 1 THEN value END) AS close,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
    FROM rn
    GROUP BY event_type, h
    ORDER BY event_type, bucket
    """,
)
def q_stream_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OHLC rollup lifted to Structured Streaming: row_number is
    not available inside a streaming aggregate, so open/close use
    min_by/max_by ordered on struct(ts, event_id) — the SAME
    deterministic total order the batch form and the oracle spell with
    row_number, expressed as a mergeable aggregate the state store can
    maintain incrementally per micro-batch. Watermark + tumbling
    window bound state; availableNow drains prove batch≡stream, which
    is exactly what sharing the batch query's oracle certifies.
    """
    from geoparquet_python_spark.streaming.source import (
        read_events_stream,
        run_to_memory_table,
        table_rows,
    )

    stream = read_events_stream(spark, sf_dir)
    ordk = F.struct("ts", "event_id")
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy("event_type", F.window("ts", "1 hour"))
        .agg(
            F.min_by("value", ordk).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ordk).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "event_type",
            F.col("window.start").alias("bucket"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
            "sum_value",
        )
    )
    name = run_to_memory_table(
        agg,
        output_mode="complete",
        source_rows=table_rows(spark, sf_dir, "events"),
    )
    return spark.table(name).orderBy("event_type", "bucket")


# --------------------------------------------------------------------------
# Interval-overlap join (bin-bucketed — the distributed overlap strategy)
# --------------------------------------------------------------------------


@query(
    "q_interval_overlap_join",
    oracle="""
    WITH iv AS (
      SELECT user_id, date_trunc('day', ts) AS d,
             MIN(ts) AS amin, MAX(ts) AS amax
      FROM events GROUP BY user_id, date_trunc('day', ts)
    ),
    eh AS (
      SELECT date_trunc('hour', ts) AS hs, COUNT(*) AS n
      FROM events WHERE event_type = 'error'
      GROUP BY date_trunc('hour', ts)
    ),
    st AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nh, CAST(SUM(n) AS BIGINT) AS tot
      FROM eh
    ),
    inc AS (
      SELECT hs FROM eh CROSS JOIN st WHERE n * nh > 2 * tot
    ),
    ov AS (
      SELECT i.user_id,
             epoch_us(least(i.amax, h.hs + INTERVAL 1 HOUR))
               - epoch_us(greatest(i.amin, h.hs)) AS o_us
      FROM iv i
      JOIN inc h ON i.amin < h.hs + INTERVAL 1 HOUR AND h.hs <= i.amax
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_overlaps,
           CAST(SUM(o_us) AS BIGINT) AS overlap_us
    FROM ov GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-OVERLAP join, bin-bucketed: per-(user, day) activity
    spans [min ts, max ts] joined against "incident hours" (hours
    whose error count is strictly above 2× the hourly mean — an
    integer cross-multiplied compare, no division), reporting per
    user the overlapping pair count and the exact summed overlap in
    microseconds.

    The naive overlap join is a theta join (a.start < b.end AND
    b.start <= a.end) — a BNLJ that dies at scale. The distributed
    strategy: expand each interval to its covered hour BINS
    (sequence + explode — output rows ∝ interval length in hours,
    bounded here by 24/day) and equi-join on the bin. Because each
    incident window is exactly one hour-aligned bin, every
    overlapping pair matches on exactly one bin — the binned join is
    LOSSLESS, and the ORACLE runs the naive theta join so the
    equality check certifies exactly that. (For non-aligned B-side
    intervals the same plan adds a distinct on the pair key.) At
    100 TB: the bin join shuffles uniformly on the hour; incident
    detection is one conditional aggregate + a one-row stats
    broadcast; overlap arithmetic is int64 epoch-microseconds."""
    e = load_table(spark, sf_dir, "events")
    iv = e.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).agg(F.min("ts").alias("amin"), F.max("ts").alias("amax"))
    eh = (
        e.where(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("hs"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    st = eh.agg(
        F.count(F.lit(1)).cast("bigint").alias("nh"),
        F.sum("n").cast("bigint").alias("tot"),
    )
    inc = (
        eh.crossJoin(F.broadcast(st))
        .where(F.col("n") * F.col("nh") > 2 * F.col("tot"))
        .select("hs")
    )
    bins = iv.select(
        "user_id",
        "amin",
        "amax",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "amin"),
                F.date_trunc("hour", "amax"),
                F.expr("interval 1 hour"),
            )
        ).alias("bin"),
    )
    o_us = F.unix_micros(
        F.least(F.col("amax"), F.col("bin") + F.expr("interval 1 hour"))
    ) - F.unix_micros(F.greatest(F.col("amin"), F.col("bin")))
    return (
        bins.join(inc, bins.bin == inc.hs)
        .select("user_id", o_us.alias("o_us"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_overlaps"),
            F.sum("o_us").cast("bigint").alias("overlap_us"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Exact EWMA (halflife = one event) over a bounded ROWS frame
# --------------------------------------------------------------------------

_EWMA_SPAN = 16  # frame length: weights 2^15 (current) .. 2^0 (oldest)


@query(
    "q_events_ewma_halflife",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS BIGINT) AS rn
      FROM events
    )
    SELECT a.user_id, a.event_id, a.rn,
           CAST(SUM(b.cents * (1 << ({_EWMA_SPAN - 1} - (a.rn - b.rn))))
                AS BIGINT) AS ewma_fp
    FROM e a
    JOIN e b
      ON b.user_id = a.user_id
     AND b.rn BETWEEN a.rn - {_EWMA_SPAN - 1} AND a.rn
    GROUP BY a.user_id, a.event_id, a.rn
    ORDER BY a.user_id, a.rn
    """,
)
def q_events_ewma_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event value with halflife = one event, EXACT:
    the decay factor is 1/2, so EWMA · 2^{_EWMA_SPAN - 1} · 100 is an
    INTEGER — Σ cents_i · 2^({_EWMA_SPAN - 1} − age) over the last
    {_EWMA_SPAN} events — and both engines compute it in int64 with
    zero float drift (the reason most EWMA implementations can't be
    oracle-certified: arbitrary α makes the recurrence
    summation-order-dependent in doubles; α = 1/2 with a bounded
    frame makes it integer algebra; terms older than the frame would
    contribute < 1 unit and are dropped identically on both sides).

    Plan shape: one per-user ordered window builds the row sequence,
    a second collects the bounded {_EWMA_SPAN}-row frame as an array
    (frame-ordered), and the weighted sum is a JVM higher-order
    zip_with/aggregate over that ≤{_EWMA_SPAN}-element array — per-row
    constant work, no self-join, no UDF. The ORACLE takes the naive
    O(n·span) self-join formulation — the value match certifies the
    window+HOF plan against the textbook definition. At 100 TB both
    windows key on user_id — one hash exchange, reused; frame memory
    is span-bounded per row."""
    e = load_table(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = e.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    ).withColumn("rn", F.row_number().over(wseq).cast("bigint"))
    wf = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(-(_EWMA_SPAN - 1), 0)
    )
    frame = F.collect_list("cents").over(wf)
    ewma = F.expr(
        f"aggregate(zip_with(frame_cents,"
        f" sequence(size(frame_cents) - 1, 0, -1),"
        f" (v, a) -> v * shiftleft(CAST(1 AS BIGINT), {_EWMA_SPAN - 1} - a)),"
        f" CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    return (
        base.withColumn("frame_cents", frame)
        .select("user_id", "event_id", "rn", ewma.alias("ewma_fp"))
        .orderBy("user_id", "rn")
    )


_MED_SPAN = 15  # rolling frame length (odd-ish; lower median used)


@query(
    "q_events_rolling_median",
    oracle=f"""
    SELECT user_id, event_id, rn,
           (list_sort(l))[CAST((len(l) + 1) // 2 AS INT)] AS median_cents
    FROM (
      SELECT user_id, event_id,
             CAST(row_number() OVER w AS BIGINT) AS rn,
             list(CAST(round(value * 100) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {_MED_SPAN - 1} PRECEDING AND CURRENT ROW) AS l
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    ORDER BY user_id, rn
    """,
)
def q_events_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EXACT median (lower median of the last {_MED_SPAN}
    values, in micro-cents) per user — the robust-smoothing twin of
    the EWMA: medians shrug off the value spikes that drag any mean,
    which is why monitoring pipelines pair them. Exact because the
    median of integers IS an integer — no interpolation, no floats,
    no approx-percentile sketch needed at this frame size.

    Plan: one user-keyed ordered window collects the span-bounded
    frame; sort + element_at run as JVM array expressions per row
    (≤{_MED_SPAN} elements — constant work, the right tool BECAUSE
    the frame is bounded; an unbounded running median would be the
    two-heap streaming algorithm instead). Same single-exchange
    shape as the EWMA, measured flat at 8× users."""
    e = load_table(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = wseq.rowsBetween(-(_MED_SPAN - 1), 0)
    frame = F.collect_list(
        F.round(F.col("value") * 100).cast("bigint")
    ).over(wf)
    med = F.element_at(
        F.array_sort(F.col("frame_cents")),
        ((F.size("frame_cents") + 1) / 2).cast("int"),
    )
    return (
        e.select(
            "user_id",
            "event_id",
            F.row_number().over(wseq).cast("bigint").alias("rn"),
            frame.alias("frame_cents"),
        )
        .select("user_id", "event_id", "rn", med.alias("median_cents"))
        .orderBy("user_id", "rn")
    )


_MAD_K = 3  # anomaly threshold: |x - median| > _MAD_K * MAD


@query(
    "q_events_anomaly_mad",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ),
    med AS (
      SELECT (list_sort(list(n_events)))[CAST((COUNT(*) + 1) // 2 AS INT)]
               AS med FROM daily
    ),
    dev AS (
      SELECT d.day, d.n_events, m.med,
             abs(d.n_events - m.med) AS dev
      FROM daily d CROSS JOIN med m
    ),
    mad AS (
      SELECT (list_sort(list(dev)))[CAST((COUNT(*) + 1) // 2 AS INT)]
               AS mad FROM dev
    )
    SELECT v.day, v.n_events, v.med AS median_events,
           v.dev AS abs_dev, a.mad,
           v.dev > {_MAD_K} * a.mad AS is_anomaly
    FROM dev v CROSS JOIN mad a
    ORDER BY v.day
    """,
)
def q_events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust volume-anomaly detection: flag days whose event count
    deviates from the corpus's daily MEDIAN by more than {K}x the
    MEDIAN ABSOLUTE DEVIATION — the estimator monitoring uses where
    mean/stddev would let one outlier day inflate its own threshold
    (50% breakdown point vs 0%). Exact arithmetic throughout: lower
    medians of integers are integers, so both engines agree bit-wise
    with no percentile interpolation.

    Plan: one day-keyed count (|days| rows), then two one-row scalar
    aggregates (median, MAD) broadcast back over the |days|-sized
    frame — the attach-a-scalar pattern (BM25 stats). At 100 TB the
    daily rollup is the only corpus-sized pass; everything after is
    |days|-bounded. The same shape per (source, day) partitions the
    medians by key instead of collecting one global row."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    lower_med = F.element_at(
        F.array_sort(F.collect_list("n_events")),
        ((F.count(F.lit(1)) + 1) / 2).cast("int"),
    )
    med = daily.agg(lower_med.alias("med"))
    dev = daily.crossJoin(broadcast_narrow(med)).select(
        "day",
        "n_events",
        "med",
        F.abs(F.col("n_events") - F.col("med")).alias("dev"),
    )
    lower_mad = F.element_at(
        F.array_sort(F.collect_list("dev")),
        ((F.count(F.lit(1)) + 1) / 2).cast("int"),
    )
    mad = dev.agg(lower_mad.alias("mad"))
    return (
        dev.crossJoin(broadcast_narrow(mad))
        .select(
            "day",
            "n_events",
            F.col("med").alias("median_events"),
            F.col("dev").alias("abs_dev"),
            "mad",
            (F.col("dev") > _MAD_K * F.col("mad")).alias("is_anomaly"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Round-8: Theil-Sen robust trend — median-of-pairwise-slopes per key
# ---------------------------------------------------------------------------


@query(
    "q_theil_sen_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type,
             CAST(floor((b.c - a.c) * 1000000.0
                        / date_diff('day', a.d, b.d)) AS BIGINT)
               AS slope_micro
      FROM daily a
      JOIN daily b ON b.event_type = a.event_type AND b.d > a.d
    ),
    ranked AS (
      SELECT event_type, slope_micro,
             row_number() OVER (
               PARTITION BY event_type ORDER BY slope_micro
             ) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS np
      FROM pairs
    )
    SELECT event_type,
           CAST(MIN(np) AS BIGINT) AS n_pairs,
           CAST(MIN(CASE WHEN rn = (np + 1) // 2 THEN slope_micro END)
                AS BIGINT) AS ts_slope_micro,
           (MIN(CASE WHEN rn = (np + 1) // 2 THEN slope_micro END) > 0)
             AS rising
    FROM ranked
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type: the MEDIAN of all
    pairwise slopes over the daily volume series (Theil 1950 / Sen
    1968 — the standard outlier-resistant alternative to OLS, with a
    29% breakdown point: a third of the days can be corrupted by
    ingest incidents before the estimate moves, where a single bad day
    drags an OLS slope arbitrarily).

    Determinism: slopes are floor((Δc × 1e6) / Δd) with Δd > 0 — the
    dividend is exact in double (≪ 2^53) and IEEE division + floor is
    exactly specified, so both engines compute identical int64 micro-
    slopes (the repo's fixed-point transcendental convention); the
    reported value is the LOWER median (order statistic at (n+1)/2),
    an exact selection rather than an engine-dependent interpolating
    percentile. Ties in slope value cannot move an order statistic.

    Scale shape: the corpus-sized work is ONE map-side-combined
    (type, day) count aggregate; the pair expansion is O(days²) per
    key over the AGGREGATED frame — calendar-bounded, not corpus-
    bounded (30 days → 435 pairs/key here; a 10-year daily series is
    ~6.6M pairs/key, the point where production Theil-Sen switches to
    the randomized-pair variant — documented ceiling, same plan). The
    median window runs on the pair frame partitioned by key."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.col("event_type"), F.date_trunc("day", "ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.d") > F.col("a.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.floor(
            (F.col("b.c") - F.col("a.c"))
            * F.lit(1_000_000.0)
            / F.datediff(F.col("b.d"), F.col("a.d"))
        )
        .cast("bigint")
        .alias("slope_micro"),
    )
    wr = Window.partitionBy("event_type").orderBy("slope_micro")
    wc = Window.partitionBy("event_type")
    ranked = pairs.select(
        "event_type",
        "slope_micro",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("np"),
    )
    med = F.min(
        F.when(
            F.col("rn") == F.expr("(np + 1) DIV 2"), F.col("slope_micro")
        )
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.min("np").cast("bigint").alias("n_pairs"),
            med.cast("bigint").alias("ts_slope_micro"),
            (med > 0).alias("rising"),
        )
        .orderBy("event_type")
    )
