"""Temporal-join queries: as-of (backward + forward/tolerance) and interval
range join (``operators/temporal.py``).

Beyond-reference surface (the reference's join kernel is equi-only,
``pixels-executor/.../join/JoinType.java``), first-class here because
feature-store / time-series workloads lean on exactly these shapes.
DuckDB has native ``ASOF JOIN`` — these queries are fully oracled, which
pins the tricky semantics (tie-at-equal-ts, unmatched rows, tolerance)
against an independent implementation.

Determinism: events ``(user_id, ts)`` is unique in the fixtures, so the
as-of match is unique; outputs carry event ids + integer microsecond gaps
(never raw timestamps), and the range-join aggregates use the DECIMAL-
accumulated sum convention (FIXTURES.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.temporal import asof_join, range_join
from ._common import _dsum, _sql_dsum
from .registry import declare


@declare(
    "asof_attribution",
    sql="""
    SELECT p.event_id AS purchase_id,
           p.user_id,
           c.event_id AS click_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY purchase_id
    """,
    tags=("asof_join", "temporal"),
)
def asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of: attribute each purchase to the user's latest click at or
    before it (classic last-touch attribution). LEFT semantics — purchases with
    no preceding click keep null attribution.
    """
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    c = e.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    j = asof_join(p, c, by=["user_id"], left_ts="ts", right_ts="ts")
    return j.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("r_event_id").alias("click_id"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("r_ts"))).alias("gap_us"),
    ).orderBy("purchase_id")


@declare(
    "asof_signup_error",
    sql="""
    SELECT s.event_id AS signup_id,
           s.user_id,
           e.event_id AS error_id,
           epoch_us(e.ts) - epoch_us(s.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'signup') s
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON s.user_id = e.user_id AND s.ts <= e.ts
    WHERE epoch_us(e.ts) - epoch_us(s.ts) <= 86400000000
    ORDER BY signup_id
    """,
    tags=("asof_join", "temporal"),
)
def asof_signup_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with tolerance, inner: for each signup, the user's FIRST
    error at or after it, kept only when within 24h — "did onboarding hit an
    error soon after signup".
    """
    e = load_table(spark, sf_dir, "events")
    s = e.filter(F.col("event_type") == "signup").select("event_id", "user_id", "ts")
    err = e.filter(F.col("event_type") == "error").select("user_id", "ts", "event_id")
    j = asof_join(
        s,
        err,
        by=["user_id"],
        left_ts="ts",
        right_ts="ts",
        direction="forward",
        tolerance=F.lit(86400000000),
        how="inner",
    )
    return j.select(
        F.col("event_id").alias("signup_id"),
        F.col("user_id"),
        F.col("r_event_id").alias("error_id"),
        (F.unix_micros(F.col("r_ts")) - F.unix_micros(F.col("ts"))).alias("gap_us"),
    ).orderBy("signup_id")


@declare(
    "range_price_bands",
    sql=f"""
    SELECT b.band_id,
           CAST(count(*) AS BIGINT) AS cnt,
           {_sql_dsum("l.l_extendedprice")} AS sum_price
    FROM lineitem l
    JOIN (SELECT i AS band_id, i * 7000.0 AS lo, i * 7000.0 + 10000.0 AS hi
          FROM range(16) t(i)) b
      ON l.l_extendedprice BETWEEN b.lo AND b.hi
    GROUP BY b.band_id
    ORDER BY b.band_id
    """,
    tags=("range_join", "temporal", "aggregation"),
)
def range_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval range join: overlapping price bands over lineitem extended price
    (each price can fall in 1-2 bands), aggregated per band. Exercises the
    binned equi-join rewrite — no nested-loop join in the plan.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    bands = spark.range(16).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 7000.0).alias("lo"),
        (F.col("id") * 7000.0 + 10000.0).alias("hi"),
    )
    rj = range_join(
        li, bands, "l_extendedprice", "lo", "hi", bucket_width=5000.0
    )
    return (
        rj.groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            _dsum(F.col("l_extendedprice")).alias("sum_price"),
        )
        .orderBy("band_id")
    )


@declare(
    "ts_gap_fill",
    sql="""
    WITH days AS (
      SELECT CAST(d AS DATE) AS day
      FROM generate_series(DATE '2024-01-01', DATE '2024-01-30',
                           INTERVAL 1 DAY) AS t(d)
    ),
    users AS (SELECT DISTINCT user_id FROM events),
    daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS day_value
      FROM events GROUP BY 1, 2
    )
    SELECT u.user_id, d.day,
           COALESCE(da.n_events, 0) AS n_events,
           last_value(da.day_value IGNORE NULLS) OVER (
             PARTITION BY u.user_id ORDER BY d.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
    FROM users u CROSS JOIN days d
    LEFT JOIN daily da ON da.user_id = u.user_id AND da.day = d.day
    ORDER BY u.user_id, d.day
    """,
    tags=("temporal", "gap-fill", "timeseries", "window"),
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-fill: a dense per-user daily spine (sequence +
    explode — generated, not scanned) left-joined to the daily rollup, with
    missing days carried forward LOCF via last(ignorenulls) over a running
    frame. The spine is tiny (users x 30) so the join broadcasts; the only
    fact-table shuffle is the daily rollup's.

    ≈ TimescaleDB time_bucket_gapfill + locf; the reference serves this
    workload through ordinary window SQL (SURVEY §2.7)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value")).alias("day_value"),
        )
    )
    spine = (
        e.select("user_id")
        .distinct()
        .crossJoin(
            spark.range(1).select(
                F.explode(
                    F.sequence(
                        F.lit("2024-01-01").cast("date"),
                        F.lit("2024-01-30").cast("date"),
                    )
                ).alias("day")
            )
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
            F.last("day_value", ignorenulls=True).over(w).alias("locf_value"),
        )
        .orderBy("user_id", "day")
    )


@declare(
    "ts_time_weighted_avg",
    sql="""
    WITH seq AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, value,
             epoch_us(lead(ts) OVER w) - epoch_us(ts) AS dus
      FROM events
      WINDOW w AS (
        PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
        ORDER BY ts, event_id
      )
    )
    SELECT user_id, day,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(CAST(value * dus AS DECIMAL(28,6))) AS DOUBLE)
             / CAST(sum(dus) AS DOUBLE) AS twa
    FROM seq
    WHERE dus IS NOT NULL
    GROUP BY user_id, day
    ORDER BY user_id, day
    """,
    tags=("temporal", "timeseries", "time-weighted", "window"),
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TimescaleDB time_weight-style): each reading
    weighted by its holding duration until the next event in the (user,
    day) series. Products are DECIMAL(28,6)-quantized before summing so
    the weighted sum is order-independent and exactly oracled; weights are
    exact integer microseconds. One window pass + one aggregate."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts").cast("date")
    )
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "day", "value",
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")
        ).alias("dus"),
    ).filter(F.col("dus").isNotNull())
    return (
        seq.groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            (
                F.sum((F.col("value") * F.col("dus")).cast("decimal(28,6)"))
                .cast("double")
                / F.sum("dus").cast("double")
            ).alias("twa"),
        )
        .orderBy("user_id", "day")
    )


@declare(
    "ts_ohlc",
    sql="""
    WITH ranked AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, value,
             row_number() OVER w AS rn_a,
             row_number() OVER (
               PARTITION BY CAST(date_trunc('day', ts) AS DATE)
               ORDER BY ts DESC, event_id DESC
             ) AS rn_d
      FROM events WHERE event_type = 'purchase'
      WINDOW w AS (
        PARTITION BY CAST(date_trunc('day', ts) AS DATE)
        ORDER BY ts, event_id
      )
    )
    SELECT day,
           CAST(sum(CASE WHEN rn_a = 1 THEN value END) AS DOUBLE) AS open,
           max(value) AS high,
           min(value) AS low,
           CAST(sum(CASE WHEN rn_d = 1 THEN value END) AS DOUBLE) AS close,
           CAST(count(*) AS BIGINT) AS volume
    FROM ranked
    GROUP BY day
    ORDER BY day
    """,
    tags=("temporal", "timeseries", "ohlc", "window"),
)
def ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick rollup over the purchase stream: open/close picked
    by deterministic (ts, event_id) first/last ranks, high/low/volume as
    plain aggregates — one window pass + one aggregate, both keyed on the
    same day so the window shuffle is reused by the groupBy."""
    from pyspark.sql import Window

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .withColumn("day", F.date_trunc("day", "ts").cast("date"))
    )
    wa = Window.partitionBy("day").orderBy(F.asc("ts"), F.asc("event_id"))
    wd = Window.partitionBy("day").orderBy(F.desc("ts"), F.desc("event_id"))
    ranked = e.select(
        "day", "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return (
        ranked.groupBy("day")
        .agg(
            F.sum(F.when(F.col("rn_a") == 1, F.col("value"))).cast("double").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.sum(F.when(F.col("rn_d") == 1, F.col("value"))).cast("double").alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
        .orderBy("day")
    )


_EWMA_WEIGHTS = tuple(0.75**k for k in range(8))  # 3^k/4^k — binary- AND
# decimal-exact, so the SQL literals below equal these floats bit-for-bit


def _ewma_sql() -> str:
    num = " + ".join(
        f"coalesce(lag(value, {k}) OVER w * CAST({w!r} AS DOUBLE), "
        f"CAST(0 AS DOUBLE))"
        for k, w in enumerate(_EWMA_WEIGHTS)
    )
    den = " + ".join(
        f"(CASE WHEN lag(value, {k}) OVER w IS NOT NULL "
        f"THEN CAST({w!r} AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)"
        for k, w in enumerate(_EWMA_WEIGHTS)
    )
    return f"""
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
           ({num}) / ({den}) AS ewma
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY event_id
    """


@declare(
    "ts_ewma",
    sql=_ewma_sql(),
    tags=("temporal", "timeseries", "ewma", "smoothing"),
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per user (α = 0.25, window
    truncated at 8 observations): the finite-window EWMA a monitoring /
    feature pipeline computes over event streams. Expressed as stacked
    ``lag`` terms over ONE user-keyed sort window — the recursive EWMA
    definition unrolled so it runs as a streaming (sort-based) window with
    O(1) per-row state instead of a sequential scan per key. Weights
    0.75^k are binary- and decimal-exact, terms accumulate in a fixed
    order, and the ramp-up renormalizes over the lags that exist — so the
    value is bit-identical across engines (the oracle text also runs
    verbatim on spark.sql)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = F.lit(0.0)
    den = F.lit(0.0)
    for k, wt in enumerate(_EWMA_WEIGHTS):
        lagged = F.lag("value", k).over(w)
        num = num + F.coalesce(lagged * F.lit(wt), F.lit(0.0))
        den = den + F.when(lagged.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
    return e.select(
        "event_id", "user_id", "ts", "value", (num / den).alias("ewma")
    ).orderBy("event_id")


def _anomaly_oracle() -> str:
    """Dialect-shared z-score oracle — also the oracle of the streaming
    twin ``stream_anomaly`` (linear hourly-count state)."""
    return """
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ), w AS (
      SELECT event_type, hr, cnt,
             CAST(count(*) OVER win AS BIGINT) AS n,
             CAST(sum(cnt) OVER win AS BIGINT) AS s,
             CAST(sum(cnt * cnt) OVER win AS BIGINT) AS ss
      FROM h
      WINDOW win AS (PARTITION BY event_type ORDER BY hr
                     ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    ), z AS (
      SELECT event_type, hr, cnt,
             (CAST(cnt AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               / sqrt((CAST(ss AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                         / CAST(n AS DOUBLE))
                      / CAST(n - 1 AS DOUBLE)) AS z
      FROM w
      WHERE n >= 12
        AND (CAST(ss AS DOUBLE)
             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) > 0
    )
    SELECT event_type, hr, cnt, z
    FROM z WHERE abs(z) >= 2.5
    ORDER BY event_type, hr
    """


@declare(
    "ts_anomaly",
    sql=_anomaly_oracle(),
    tags=("temporal", "timeseries", "anomaly", "zscore", "beyond-parity"),
)
def ts_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection on the event stream: hourly
    per-type counts scored against the TRAILING 24-bucket window
    (current bucket excluded — the score never contaminates its own
    baseline); flag |z| ≥ 2.5 once ≥12 history buckets exist. The
    monitoring primitive behind ingest-volume alerting on a feed.

    Determinism discipline: the window accumulates n/Σx/Σx² as EXACT
    bigints (counts are integers); mean/variance/z are evaluated in
    double FROM those exact sums with the identical expression in both
    engines — the stat_corr_regression pattern, so the oracle is exact
    and the text is dialect-shared. Scale: one hash aggregate to hourly
    grain (events never hit the window), then one window pass over the
    tiny per-type hourly series."""
    h = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return anomaly_scores(h)


def anomaly_scores(h: DataFrame) -> DataFrame:
    """Scoring stage of ``ts_anomaly`` over an hourly count frame
    ``(event_type, hr, cnt)`` — shared with the streaming-maintained
    twin ``stream_anomaly`` (hourly counts are LINEAR, so batch-folded
    counts feed the identical scoring and must match the batch oracle)."""
    from pyspark.sql import Window

    win = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(-24, -1)
    )
    w = h.select(
        "event_type",
        "hr",
        "cnt",
        F.count(F.lit(1)).over(win).cast("bigint").alias("n"),
        F.sum("cnt").over(win).cast("bigint").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).over(win).cast("bigint").alias("ss"),
    )
    var_num = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double")
        / F.col("n").cast("double")
    )
    z = (
        F.col("cnt").cast("double")
        - F.col("s").cast("double") / F.col("n").cast("double")
    ) / F.sqrt(var_num / (F.col("n") - 1).cast("double"))
    return (
        w.filter((F.col("n") >= 12) & (var_num > 0))
        .select("event_type", "hr", "cnt", z.alias("z"))
        .filter(F.abs(F.col("z")) >= 2.5)
        .orderBy("event_type", "hr")
    )


_CUSUM_ORACLE = """
    WITH RECURSIVE h AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ), stats AS (
      SELECT event_type, CAST(sum(cnt) AS BIGINT) AS tot,
             CAST(count(*) AS BIGINT) AS n
      FROM h GROUP BY event_type
    ), idx AS (
      SELECT h.event_type, hr, cnt, tot, n,
             CAST(row_number() OVER (PARTITION BY h.event_type ORDER BY hr)
                  AS BIGINT) AS rn
      FROM h JOIN stats USING (event_type)
    ), cus AS (
      SELECT event_type, rn, hr, cnt, tot, n,
             greatest(CAST(0 AS BIGINT), 10 * n * cnt - 11 * tot) AS s
      FROM idx WHERE rn = 1
      UNION ALL
      SELECT i.event_type, i.rn, i.hr, i.cnt, i.tot, i.n,
             greatest(CAST(0 AS BIGINT), c.s + 10 * i.n * i.cnt - 11 * i.tot)
      FROM idx i JOIN cus c ON i.event_type = c.event_type AND i.rn = c.rn + 1
    ), peak AS (
      SELECT event_type, max(s) AS peak_s FROM cus GROUP BY event_type
    )
    SELECT c.event_type,
           CAST(max(c.n) AS BIGINT) AS n_buckets,
           CAST(sum(CASE WHEN c.s > 50 * c.tot THEN 1 ELSE 0 END) AS BIGINT)
             AS alarm_buckets,
           p.peak_s,
           min(c.hr) FILTER (WHERE c.s = p.peak_s) AS peak_hr
    FROM cus c JOIN peak p USING (event_type)
    GROUP BY c.event_type, p.peak_s
    ORDER BY c.event_type
    """


@declare(
    "ts_cusum",
    sql=_CUSUM_ORACLE,
    tags=("temporal", "timeseries", "changepoint", "cusum", "beyond-parity"),
)
def ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection (Page 1954) on the event stream:
    per-type hourly counts folded through the one-sided cumulative-sum
    recursion S_t = max(0, S_{t-1} + (x_t − μ − κ)) with slack κ = 10% of
    the per-type mean and alarm threshold H = 5× the mean — the classic
    drift detector that catches sustained small shifts a per-bucket
    z-score (``ts_anomaly``) misses. Reports, per type, the number of
    alarm buckets, the peak CUSUM statistic, and the hour it peaked
    (earliest on ties).

    Determinism discipline: the recursion runs entirely in scaled exact
    bigints — the residual 10·n·xₜ − 11·tot equals 10n·(xₜ − μ − μ/10)
    with μ = tot/n never materialized as a float — so Spark's single-pass
    array fold and DuckDB's recursive CTE produce identical integers.

    Scale: one hash aggregate to hourly grain (events are never collected),
    then a per-type fold over the bucketed series — state is bounded by
    the calendar (8,760 buckets/type/year), not by data volume; the oracle
    unrolls the same recursion as a recursive CTE, which Spark 4 could run
    but would schedule one join per bucket — the fold is the plan you want."""
    h = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return cusum_scan(h)


def cusum_scan(h: DataFrame) -> DataFrame:
    """CUSUM fold over an hourly count frame ``(event_type, hr, cnt)`` —
    factored like ``anomaly_scores`` so tests can inject synthetic shifts
    and a streaming twin can feed linearly-maintained counters."""
    g = h.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("hr", "cnt"))).alias("series"),
        F.sum("cnt").cast("bigint").alias("tot"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    step = "greatest(CAST(0 AS BIGINT), acc.s + 10 * n * x.cnt - 11 * tot)"
    fold = f"""aggregate(
        series,
        named_struct('s', CAST(0 AS BIGINT), 'alarm', CAST(0 AS BIGINT),
                     'peak', CAST(-1 AS BIGINT),
                     'peak_hr', CAST(NULL AS TIMESTAMP)),
        (acc, x) -> named_struct(
            's', {step},
            'alarm', acc.alarm
                     + IF({step} > 50 * tot, CAST(1 AS BIGINT),
                          CAST(0 AS BIGINT)),
            'peak', IF({step} > acc.peak, {step}, acc.peak),
            'peak_hr', IF({step} > acc.peak, x.hr, acc.peak_hr)))"""
    return (
        g.withColumn("_acc", F.expr(fold))
        .select(
            "event_type",
            F.col("n").alias("n_buckets"),
            F.col("_acc.alarm").alias("alarm_buckets"),
            F.col("_acc.peak").alias("peak_s"),
            F.col("_acc.peak_hr").alias("peak_hr"),
        )
        .orderBy("event_type")
    )


@declare(
    "ts_trend_forecast",
    sql="""
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ), idx AS (
      SELECT event_type, cnt,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY hr)
                  AS BIGINT) - 1 AS t
      FROM h
    ), s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS BIGINT) AS st,
             CAST(sum(cnt) AS BIGINT) AS sc,
             CAST(sum(t * cnt) AS BIGINT) AS stc,
             CAST(sum(t * t) AS BIGINT) AS stt
      FROM idx GROUP BY event_type
    )
    SELECT event_type, n,
           (CAST(n AS DOUBLE) * CAST(stc AS DOUBLE)
              - CAST(st AS DOUBLE) * CAST(sc AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS slope,
           (CAST(sc AS DOUBLE)
              - (CAST(n AS DOUBLE) * CAST(stc AS DOUBLE)
                   - CAST(st AS DOUBLE) * CAST(sc AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                   - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
                * CAST(st AS DOUBLE))
             / CAST(n AS DOUBLE) AS intercept,
           (CAST(sc AS DOUBLE)
              - (CAST(n AS DOUBLE) * CAST(stc AS DOUBLE)
                   - CAST(st AS DOUBLE) * CAST(sc AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                   - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
                * CAST(st AS DOUBLE))
             / CAST(n AS DOUBLE)
           + (CAST(n AS DOUBLE) * CAST(stc AS DOUBLE)
                - CAST(st AS DOUBLE) * CAST(sc AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
             * CAST(n AS DOUBLE) AS forecast_next
    FROM s ORDER BY event_type
    """,
    tags=("temporal", "timeseries", "forecast", "regression", "beyond-parity"),
)
def ts_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type hourly workload trend + next-bucket forecast: OLS over
    the (bucket index, hourly count) series, forecast at the next index
    — the workload-prediction primitive the reference's autoscaler runs
    as a driver-side AutoARIMA script over 5-minute query-load buckets
    (pixels-daemon/.../scaling/policy/helper/forecast.py); here the
    trend model is computed IN the engine, distributed, from exact
    integer sums (t indexes are row_numbers, counts are bigints — n,
    Σt, Σc, Σtc, Σt² all exact), with the closed form evaluated in
    double identically on both engines (the stat_corr_regression
    discipline), so the oracle is exact and the text dialect-shared.
    Forecast index = n (t runs 0..n-1, next bucket is t=n).

    Scale: one hash aggregate to hourly grain, one window pass over the
    tiny per-type series, one closing aggregate."""
    h = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    from pyspark.sql import Window

    idx = h.select(
        "event_type",
        "cnt",
        (
            F.row_number()
            .over(Window.partitionBy("event_type").orderBy("hr"))
            .cast("bigint")
            - 1
        ).alias("t"),
    )
    s = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum("cnt").cast("bigint").alias("sc"),
        F.sum(F.col("t") * F.col("cnt")).cast("bigint").alias("stc"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
    )
    n, st, sc = (F.col(c).cast("double") for c in ("n", "st", "sc"))
    stc, stt = (F.col(c).cast("double") for c in ("stc", "stt"))
    slope = (n * stc - st * sc) / (n * stt - st * st)
    intercept = (sc - slope * st) / n
    return s.select(
        "event_type",
        "n",
        slope.alias("slope"),
        intercept.alias("intercept"),
        (intercept + slope * n).alias("forecast_next"),
    ).orderBy("event_type")


@declare(
    "ts_active_intervals",
    sql="""
    WITH spans AS (
      SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS d0,
             CAST(max(l.l_shipdate) AS DATE) AS d1
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE)),
    deltas AS (
      SELECT d0 AS day, 1 AS delta FROM spans
      UNION ALL
      SELECT d1 + 1 AS day, -1 AS delta FROM spans),
    dd AS (SELECT day, CAST(sum(delta) AS BIGINT) AS net FROM deltas
           GROUP BY day),
    run AS (SELECT day, sum(net) OVER (ORDER BY day) AS active FROM dd),
    ranked AS (
      SELECT CAST(year(day) * 100 + month(day) AS BIGINT) AS month,
             day AS peak_day, CAST(active AS BIGINT) AS peak_active,
             row_number() OVER (
               PARTITION BY year(day) * 100 + month(day)
               ORDER BY active DESC, day) AS rn
      FROM run)
    SELECT month, peak_day, peak_active
    FROM ranked WHERE rn = 1 ORDER BY month
    """,
    tags=("temporal", "interval", "sweep-line", "beyond-parity"),
)
def ts_active_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap concurrency by sweep line: each order is open
    from its order date to its last lineitem ship date; per month, the
    day with the most concurrently-open orders and that peak count — the
    operator behind 'max concurrent sessions/jobs/tickets' capacity
    questions. Sweep line = +1 at start, -1 at end+1, running sum over
    the per-day net — O(days) state instead of the quadratic
    interval×interval overlap join. Integer-exact; dialect-shared.

    Scale: the interval endpoints aggregate (one shuffle, map-side
    combinable) collapses everything to <= 2×|days| delta rows; the
    running sum's global window runs over that tiny per-DAY aggregate
    (same O(domain) tiny-frame pattern as stat_skyline's bucket prefix
    max — at second granularity it would become the same two-level
    bucketed prefix sum). Peak-per-month is a window over <= 31 rows per
    partition."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("d0")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    spans = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "d0")
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("d1"))
    )
    # r12: emit both sweep endpoints from ONE traversal of spans — the
    # unionByName form replayed the orders⋈lineitem join + aggregate
    # once per endpoint branch
    deltas = spans.select(
        F.explode(
            F.array(
                F.struct(F.col("d0").alias("day"), F.lit(1).alias("delta")),
                F.struct(
                    F.date_add("d1", 1).alias("day"), F.lit(-1).alias("delta")
                ),
            )
        ).alias("r")
    ).select("r.day", "r.delta")
    dd = deltas.groupBy("day").agg(F.sum("delta").cast("bigint").alias("net"))
    run = dd.select(
        "day", F.sum("net").over(Window.orderBy("day")).alias("active")
    )
    mo = (F.year("day") * 100 + F.month("day")).cast("bigint")
    ranked = run.select(
        mo.alias("month"),
        F.col("day").alias("peak_day"),
        F.col("active").cast("bigint").alias("peak_active"),
        F.row_number()
        .over(Window.partitionBy(mo).orderBy(F.desc("active"), "day"))
        .alias("rn"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select("month", "peak_day", "peak_active")
        .orderBy("month")
    )


@declare(
    "ts_cumulative_users",
    sql="""
    WITH fs AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_day
                FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
    nu AS (SELECT first_day AS day, CAST(count(*) AS BIGINT) AS new_users
           FROM fs GROUP BY first_day),
    act AS (SELECT CAST(ts AS DATE) AS day,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
            FROM events WHERE user_id IS NOT NULL
            GROUP BY CAST(ts AS DATE))
    SELECT a.day, a.active_users,
           COALESCE(n.new_users, 0) AS new_users,
           a.active_users - COALESCE(n.new_users, 0) AS returning_users,
           CAST(sum(COALESCE(n.new_users, 0)) OVER (ORDER BY a.day)
                AS BIGINT) AS cumulative_users
    FROM act a LEFT JOIN nu n ON n.day = a.day
    ORDER BY a.day
    """,
    tags=("temporal", "growth", "behavioral", "beyond-parity"),
)
def ts_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting: active users, new users (first-ever
    appearance), returning = active - new, and the cumulative
    distinct-user count — the standard growth dashboard (DAU / new /
    returning / total-acquired). The cumulative distinct is computed
    WITHOUT windowed distinct state: first-seen day per user (one
    aggregate), then a prefix sum of new-user counts over the tiny day
    domain — every first-seen day is an active day, so summing new_users
    through day d equals |users seen <= d| exactly. Integer-exact;
    dialect-shared.

    Scale: two user-keyed aggregates (first-seen, per-day distinct) are
    the only O(data) shuffles; the prefix-sum window runs over the
    per-day aggregate (O(days) rows)."""
    from ..functions.dedup import cut_lineage

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    # r12 optimization: both aggregates (first-seen per user, per-day
    # distinct actives) reduce over the SAME (day, user) distinct grain —
    # build it once, cut lineage, derive both (was two independent
    # events scans + two full-grain shuffles)
    du = cut_lineage(
        e.select(F.col("ts").cast("date").alias("day"), "user_id").distinct()
    )
    fs = du.groupBy("user_id").agg(F.min("day").alias("first_day"))
    nu = fs.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    act = du.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("active_users")
    )
    joined = act.join(nu, "day", "left_outer").select(
        "day",
        "active_users",
        F.coalesce(F.col("new_users"), F.lit(0).cast("bigint")).alias("new_users"),
    )
    return (
        joined.select(
            "day",
            "active_users",
            "new_users",
            (F.col("active_users") - F.col("new_users")).alias("returning_users"),
            F.sum("new_users")
            .over(Window.orderBy("day"))
            .cast("bigint")
            .alias("cumulative_users"),
        )
        .orderBy("day")
    )


_HOLT_ORACLE = """
    WITH RECURSIVE h AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ), idx AS (
      SELECT event_type, hr, cnt,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY hr)
                  AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM h
    ), holt AS (
      SELECT event_type, rn, n, CAST(cnt AS DOUBLE) AS l,
             CAST(0 AS DOUBLE) AS b
      FROM idx WHERE rn = 1
      UNION ALL
      SELECT i.event_type, i.rn, i.n,
             0.5 * CAST(i.cnt AS DOUBLE) + 0.5 * (c.l + c.b),
             0.25 * ((0.5 * CAST(i.cnt AS DOUBLE) + 0.5 * (c.l + c.b)) - c.l)
               + 0.75 * c.b
      FROM idx i JOIN holt c
        ON i.event_type = c.event_type AND i.rn = c.rn + 1
    )
    SELECT event_type, n AS n_buckets, l AS level, b AS trend,
           l + 3.0 * b AS forecast_h3
    FROM holt WHERE rn = n ORDER BY event_type
    """


@declare(
    "ts_holt",
    sql=_HOLT_ORACLE,
    tags=("temporal", "timeseries", "holt", "smoothing", "forecast",
          "beyond-parity"),
)
def ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + trend) per event type
    over the hourly count series, with a 3-step-ahead forecast — the
    trend-aware smoother between ``ts_ewma`` (level only, window-truncated)
    and ``ts_trend_forecast`` (global OLS line): l_t = αx_t + (1−α)(l+b),
    b_t = β(l_t − l_{t−1}) + (1−β)b, α = 1/2, β = 1/4 (binary-exact
    constants, so no literal drift).

    Determinism: the coupled recursion can't be unrolled into a window
    like EWMA, so BOTH engines run the identical IEEE-double op sequence
    — Spark as a single-pass array fold (the ``cusum_scan`` shape),
    DuckDB as a recursive CTE with the b-step's l_new expression repeated
    verbatim — making every intermediate bit-identical (+,*,− are
    correctly rounded, same order).

    Scale: one hash aggregate to hourly grain; the fold state is the
    bucketed series, bounded by the calendar (8,760 buckets/type/year),
    never by event volume."""
    h = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    g = h.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("hr", "cnt"))).alias("series"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    l_new = (
        "0.5 * CAST(x.cnt AS DOUBLE) + 0.5 * (acc.l + acc.b)"
    )
    fold = f"""aggregate(
        series,
        named_struct('l', CAST(0 AS DOUBLE), 'b', CAST(0 AS DOUBLE),
                     'k', CAST(0 AS BIGINT)),
        (acc, x) -> named_struct(
            'l', IF(acc.k = 0, CAST(x.cnt AS DOUBLE), {l_new}),
            'b', IF(acc.k = 0, CAST(0 AS DOUBLE),
                    0.25 * (({l_new}) - acc.l) + 0.75 * acc.b),
            'k', acc.k + 1))"""
    return (
        g.withColumn("_acc", F.expr(fold))
        .select(
            "event_type",
            F.col("n").alias("n_buckets"),
            F.col("_acc.l").alias("level"),
            F.col("_acc.b").alias("trend"),
            (F.col("_acc.l") + F.lit(3.0) * F.col("_acc.b")).alias(
                "forecast_h3"
            ),
        )
        .orderBy("event_type")
    )


@declare(
    "asof_nearest",
    sql="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    c AS (SELECT * FROM events WHERE event_type = 'click'),
    b AS (SELECT p.event_id, p.user_id, p.ts,
                 cb.event_id AS b_id, cb.ts AS b_ts
          FROM p ASOF LEFT JOIN c cb
            ON p.user_id = cb.user_id AND p.ts >= cb.ts),
    f AS (SELECT p.event_id, cf.event_id AS f_id, cf.ts AS f_ts
          FROM p ASOF LEFT JOIN c cf
            ON p.user_id = cf.user_id AND p.ts <= cf.ts)
    SELECT b.event_id AS purchase_id, b.user_id,
           CASE WHEN f.f_ts IS NULL
                     OR (b.b_ts IS NOT NULL
                         AND epoch_us(b.ts) - epoch_us(b.b_ts)
                             <= epoch_us(f.f_ts) - epoch_us(b.ts))
                THEN b.b_id ELSE f.f_id END AS click_id,
           CASE WHEN f.f_ts IS NULL
                     OR (b.b_ts IS NOT NULL
                         AND epoch_us(b.ts) - epoch_us(b.b_ts)
                             <= epoch_us(f.f_ts) - epoch_us(b.ts))
                THEN epoch_us(b.ts) - epoch_us(b.b_ts)
                ELSE epoch_us(b.ts) - epoch_us(f.f_ts) END AS gap_us
    FROM b JOIN f ON b.event_id = f.event_id
    ORDER BY purchase_id
    """,
    tags=("asof_join", "temporal", "nearest"),
)
def asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of: attribute each purchase to the user's
    click CLOSEST in time, either side (ties → backward — pandas
    merge_asof semantics; ``gap_us`` is signed left−right, negative when
    the click came after). The feature-store nearness join DuckDB's
    native ASOF can't express in one pass — its oracle composes a
    backward and a forward ASOF with the tie CASE; the engine runs the
    same composition as two single-shuffle window kernels
    (operators/temporal.asof_join direction='nearest')."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    j = asof_join(
        p, c, by=["user_id"], left_ts="ts", right_ts="ts",
        direction="nearest",
    )
    return j.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("r_event_id").alias("click_id"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("r_ts"))).alias(
            "gap_us"
        ),
    ).orderBy("purchase_id")


_LTTB_B = 24  # interior buckets; output = B + first + last points


def _lttb_oracle(B: int = _LTTB_B) -> str:
    parts = [
        f"""h AS (
      SELECT date_trunc('hour', ts) AS hr, CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY date_trunc('hour', ts)
    ), idx AS (
      SELECT CAST(row_number() OVER (ORDER BY hr) AS BIGINT) AS x, y,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM h
    ), fl AS (
      SELECT min(x) AS fx, max(x) AS lx, CAST(max(n) AS BIGINT) AS n
      FROM idx
    ), firstp AS (SELECT i.x, i.y FROM idx i, fl WHERE i.x = fl.fx),
    lastp AS (SELECT i.x, i.y FROM idx i, fl WHERE i.x = fl.lx),
    pts AS (
      SELECT least(CAST((i.x - 2) // (((fl.n - 2) + {B} - 1) // {B})
                        AS BIGINT), {B} - 1) + 1 AS k,
             i.x, i.y
      FROM idx i, fl WHERE i.x > fl.fx AND i.x < fl.lx
    ), anch AS (
      SELECT k - 1 AS k, CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy, CAST(count(*) AS BIGINT) AS c
      FROM pts GROUP BY k
    ), lanch AS (
      SELECT CAST({B} AS BIGINT) AS k, x AS sx, y AS sy,
             CAST(1 AS BIGINT) AS c
      FROM lastp
    ), anchors AS (
      SELECT * FROM anch WHERE k >= 1 UNION ALL SELECT * FROM lanch
    ), s0 AS (SELECT x, y FROM firstp)"""
    ]
    for k in range(1, B + 1):
        parts.append(
            f"""s{k} AS (
      SELECT x, y FROM (
        SELECT p.x, p.y,
               row_number() OVER (ORDER BY
                 abs((prev.x * a.c - a.sx) * (p.y - prev.y)
                     - (prev.x - p.x) * (a.sy - prev.y * a.c)) DESC,
                 p.x) AS rn
        FROM pts p, s{k - 1} prev, anchors a
        WHERE p.k = {k} AND a.k = {k}) t
      WHERE rn = 1)"""
        )
    sel = " UNION ALL ".join(f"SELECT x, y FROM s{k}" for k in range(B + 1))
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT x, y FROM ({sel} UNION ALL SELECT x, y FROM lastp) t ORDER BY x"""
    )


@declare(
    "ts_lttb",
    sql=_lttb_oracle(),
    tags=("temporal", "timeseries", "downsampling", "lttb", "beyond-parity"),
)
def ts_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013) of
    the hourly event-count series to 26 points — the decimation every
    dashboard runs before plotting (keep the visually salient extremes,
    not bucket means). First/last kept; each of the 24 interior buckets
    contributes the point maximizing the triangle area with the PREVIOUS
    selected point and the NEXT bucket's centroid — a sequential
    recursion, run here as a single array fold (the cusum_scan shape)
    whose per-step argmax is an exact-INTEGER comparison: 2·Area scaled
    by the next bucket's count, |( pₓ·c − Σx )(y − p_y) − (pₓ − x)(Σy −
    p_y·c)|, ties → earliest x. The oracle unrolls the same recursion as
    24 generated CTEs (the power-iteration pattern); both engines pick
    identical points.

    Scale: one hash aggregate to hourly grain; everything after operates
    on the calendar-bounded series (indexing window + fold state are
    O(buckets)); the raw stream is never re-read."""
    h = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    B = _LTTB_B
    w_all = Window.orderBy("hr")
    idx = h.select(
        F.row_number().over(w_all).cast("bigint").alias("x"), "y"
    ).withColumn(
        "n",
        F.count(F.lit(1)).over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("bigint"),
    ).persist()
    interior = idx.filter((F.col("x") > 1) & (F.col("x") < F.col("n"))).select(
        (
            F.least(
                F.expr(f"(x - 2) div (((n - 2) + {B} - 1) div {B})"),
                F.lit(B - 1),
            )
            + 1
        ).alias("k"),
        "x",
        "y",
    )
    buckets = interior.groupBy("k").agg(
        F.sort_array(F.collect_list(F.struct("x", "y"))).alias("pts"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    lastp = idx.filter(F.col("x") == F.col("n")).select("x", "y")
    firstp = idx.filter(F.col("x") == 1).select("x", "y")
    # anchor of bucket k = sums of bucket k+1 (last bucket anchors on the
    # final point): shift via a tiny self-join on the <=B-row frame
    anchors = buckets.select(
        (F.col("k") - 1).alias("k"),
        F.col("sx").alias("asx"),
        F.col("sy").alias("asy"),
        F.col("c").alias("ac"),
    ).filter(F.col("k") >= 1).unionByName(
        lastp.select(
            F.lit(B).cast("bigint").alias("k"),
            F.col("x").alias("asx"),
            F.col("y").alias("asy"),
            F.lit(1).cast("bigint").alias("ac"),
        )
    )
    folded = (
        buckets.select("k", "pts")
        .join(anchors, "k")
        .select(
            F.struct(
                "k",
                "pts",
                F.col("asx").alias("sx"),
                F.col("asy").alias("sy"),
                F.col("ac").alias("c"),
            ).alias("b")
        )
        .groupBy()
        .agg(F.sort_array(F.collect_list("b")).alias("bs"))
        .crossJoin(F.broadcast(firstp))
    )
    step_cand = (
        "array_max(transform(b.pts, p -> named_struct("
        "'s', abs((acc.px * b.c - b.sx) * (p.y - acc.py)"
        " - (acc.px - p.x) * (b.sy - acc.py * b.c)),"
        "'nx', -p.x, 'y', p.y)))"
    )
    fold = f"""aggregate(
        bs,
        named_struct('px', x, 'py', y,
                     'sel', array(named_struct('x', x, 'y', y))),
        (acc, b) -> named_struct(
            'px', -{step_cand}.nx,
            'py', {step_cand}.y,
            'sel', acc.sel || array(named_struct(
                'x', -{step_cand}.nx, 'y', {step_cand}.y))))"""
    out = (
        folded.select(F.explode(F.expr(fold + ".sel")).alias("p"))
        .select("p.x", "p.y")
        .unionByName(lastp)
    )
    return out.orderBy("x")


def _fourier_coefs() -> list[tuple[int, int, str, str]]:
    """(k, hour, cos, sin) literals for k ∈ {1,2,3} over the 24-slot day —
    12-decimal strings computed ONCE here and embedded verbatim in both
    engines, so the DFT needs no runtime trig (cos/sin library rounding
    is not guaranteed identical across engines; the literals are)."""
    import math

    out = []
    for k in (1, 2, 3):
        for h in range(24):
            a = 2 * math.pi * k * h / 24
            out.append(
                (k, h, format(math.cos(a), ".12f"), format(math.sin(a), ".12f"))
            )
    return out


def _periodogram_oracle() -> str:
    vals = ",\n      ".join(
        f"({k}, {h}, CAST('{c}' AS DECIMAL(14,12)), CAST('{s}' AS DECIMAL(14,12)))"
        for k, h, c, s in _fourier_coefs()
    )
    return f"""
    WITH hod AS (
      SELECT CAST(hour(ts) AS BIGINT) AS h, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY h),
    coef(k, h, c, s) AS (VALUES
      {vals}),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM hod),
    f AS (
      SELECT k,
             CAST(sum(n * c) AS DECIMAL(38,12)) AS cs,
             CAST(sum(n * s) AS DECIMAL(38,12)) AS ss
      FROM hod JOIN coef USING (h) GROUP BY k)
    SELECT CAST(f.k AS BIGINT) AS k,
           CAST(24.0 / f.k AS DOUBLE) AS period_hours,
           CAST(f.cs AS DOUBLE) AS c,
           CAST(f.ss AS DOUBLE) AS s,
           CAST(f.cs AS DOUBLE) * CAST(f.cs AS DOUBLE)
             + CAST(f.ss AS DOUBLE) * CAST(f.ss AS DOUBLE) AS power,
           2.0 * sqrt(CAST(f.cs AS DOUBLE) * CAST(f.cs AS DOUBLE)
                      + CAST(f.ss AS DOUBLE) * CAST(f.ss AS DOUBLE))
             / t.t AS strength
    FROM f CROSS JOIN tot t
    ORDER BY k
    """


@declare(
    "ts_periodogram",
    sql=_periodogram_oracle(),
    tags=("timeseries", "spectral", "seasonality", "beyond-parity"),
)
def ts_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-strength periodogram: the DFT of the 24-slot
    hour-of-day profile at the daily, half-daily, and 8-hour frequencies
    — power and normalized strength per harmonic, the "HOW seasonal is
    this stream?" number behind ``ts_seasonal_profile``'s "what shape".
    Fourier coefficients Σ n_h·cos / Σ n_h·sin are EXACT: the trig values
    are 12-decimal literals shared verbatim by both engines (no runtime
    cos/sin — library rounding differs across engines), counts are
    BIGINTs, products/sums decimal; power and strength are fixed IEEE
    chains from the two decimal sums.

    Scale: one shuffle to the 24-slot grain (O(1) rows at any volume),
    a broadcast 72-row coefficient join, a 3-group aggregate. The same
    literal-trig pattern extends to any fixed seasonal grid (day-of-week
    7-slot, month 12-slot)."""
    coefs = _fourier_coefs()
    spark_coef = spark.createDataFrame(
        [(k, h, c, s) for k, h, c, s in coefs],
        "k int, h bigint, c string, s string",
    ).select(
        "k",
        "h",
        F.col("c").cast("decimal(14,12)").alias("c"),
        F.col("s").cast("decimal(14,12)").alias("s"),
    )
    hod = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.hour("ts").cast("bigint").alias("h"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = hod.agg(F.sum("n").cast("bigint").alias("t"))
    f = (
        hod.join(F.broadcast(spark_coef), "h")
        .groupBy("k")
        .agg(
            F.sum(F.col("n") * F.col("c")).cast("decimal(38,12)").alias("cs"),
            F.sum(F.col("n") * F.col("s")).cast("decimal(38,12)").alias("ss"),
        )
    )
    cd = F.col("cs").cast("double")
    sd = F.col("ss").cast("double")
    return (
        f.crossJoin(F.broadcast(tot))
        .select(
            F.col("k").cast("bigint").alias("k"),
            (F.lit(24.0) / F.col("k")).alias("period_hours"),
            cd.alias("c"),
            sd.alias("s"),
            (cd * cd + sd * sd).alias("power"),
            (2.0 * F.sqrt(cd * cd + sd * sd) / F.col("t")).alias("strength"),
        )
        .orderBy("k")
    )


@declare(
    "ts_acf",
    sql="""
    WITH h AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT) AS hr,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS s
            FROM h GROUP BY 1),
    c AS (SELECT h.event_type, h.hr,
                 CAST(tot.n * h.x - tot.s AS DECIMAL(38,0)) AS cv
          FROM h JOIN tot USING (event_type)),
    g0 AS (SELECT event_type, sum(cv * cv) AS g0 FROM c GROUP BY 1),
    lags AS (SELECT * FROM (VALUES (1), (2), (3), (4), (6), (12), (24))
             AS l(k)),
    pairs AS (
      SELECT a.event_type, l.k,
             CAST(count(*) AS BIGINT) AS n_pairs,
             sum(a.cv * b.cv) AS gk
      FROM c a CROSS JOIN lags l
      JOIN c b ON b.event_type = a.event_type AND b.hr = a.hr + l.k
      GROUP BY 1, 2)
    SELECT p.event_type, CAST(p.k AS BIGINT) AS lag, p.n_pairs,
           CASE WHEN g0.g0 > 0
                THEN CAST(p.gk AS DOUBLE) / CAST(g0.g0 AS DOUBLE) END AS acf
    FROM pairs p JOIN g0 USING (event_type)
    ORDER BY event_type, lag
    """,
    tags=("temporal", "timeseries", "acf", "autocorrelation",
          "beyond-parity"),
)
def ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly per-type event series at
    lags {1,2,3,4,6,12,24} — the time-domain twin of ts_periodogram
    (lag 24 exposes the same daily seasonality as the 24-slot DFT, plus
    the short-lag decay the periodogram can't show). EXACT-INTEGER: with
    S = Σx and n hours, the centered value n·x_t − S is a bigint, so
    n²·γ_k = Σ (n·x_t − S)(n·x_{t+k} − S) accumulates in DECIMAL(38,0)
    and acf_k = γ_k/γ_0 is one IEEE division (the n² cancels) —
    NULL-guarded for constant series. Lag pairs attach by INTEGER epoch
    hour (hr + k), so missing hours drop their pairs rather than
    silently shifting the series.

    Scale: one hash aggregate to hourly grain; everything after runs on
    the tiny per-type hourly frame (the 7-lag expansion is 7× that
    frame, joined on (type, hr) — never the event volume)."""
    e = load_table(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type",
        (F.unix_micros(F.date_trunc("hour", "ts")) / F.lit(3600000000))
        .cast("bigint")
        .alias("hr"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    tot = (
        h.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("s"),
        )
        .withColumnRenamed("event_type", "_et")
    )
    from ..functions.dedup import cut_lineage

    c = cut_lineage(
        h.join(F.broadcast(tot), F.col("event_type") == F.col("_et"))
        .select(
            "event_type",
            "hr",
            (F.col("n") * F.col("x") - F.col("s"))
            .cast("decimal(38,0)")
            .alias("cv"),
        )
    )
    g0 = (
        c.groupBy("event_type")
        .agg(F.sum(F.col("cv") * F.col("cv")).alias("g0"))
        .withColumnRenamed("event_type", "_et")
    )
    a = c.select(
        "event_type",
        "hr",
        F.col("cv").alias("ca"),
        F.explode(F.array(*[F.lit(k) for k in (1, 2, 3, 4, 6, 12, 24)])).alias(
            "k"
        ),
    )
    b = c.select(
        F.col("event_type").alias("_etb"),
        F.col("hr").alias("_hrb"),
        F.col("cv").alias("cb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("_etb") == F.col("event_type"))
            & (F.col("_hrb") == F.col("hr") + F.col("k")),
        )
        .groupBy("event_type", "k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.col("ca") * F.col("cb")).alias("gk"),
        )
    )
    return (
        pairs.join(F.broadcast(g0), F.col("event_type") == F.col("_et"))
        .select(
            "event_type",
            F.col("k").cast("bigint").alias("lag"),
            "n_pairs",
            F.when(
                F.col("g0") > 0,
                F.col("gk").cast("double") / F.col("g0").cast("double"),
            ).alias("acf"),
        )
        .orderBy("event_type", "lag")
    )


_DAILY_REV_CTE = """dly AS (
      SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS d,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS rev
      FROM events GROUP BY 1)"""


def _daily_rev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-index → exact DECIMAL daily revenue (the shared base of the
    robust-trend pair ts_theil_sen / ts_mann_kendall). Day indices count
    from the fixture's 2024-01-01 epoch; the grain is calendar-bounded."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("decimal(38,6)")
        .alias("rev")
    )


def theil_sen_guarded(
    daily: DataFrame,
    max_pairs: int = 500_000,
    d_col: str = "d",
    rev_col: str = "rev",
) -> DataFrame:
    """Theil–Sen slope with a pair budget (VERDICT r10 task #3): the
    all-pairs frame is O(#days²), fine for calendar-bounded windows
    (435 pairs at 30 days, ~5M/decade) but silently quadratic on a
    multi-year grain. Past ``max_pairs`` this switches to the standard
    time-binned form — the day range splits into the largest k bins
    with C(k,2) <= max_pairs, each bin reduces to its (median day,
    median value) point, and the pairwise-slope median runs over the k
    bin points — so the work bound is max_pairs REGARDLESS of calendar
    span, the same scale-invariance shape as graph_link_predict's
    degree cap (r10). The under-budget path is bit-identical to the
    unguarded estimator, so the 30-day oracle is unchanged.

    The day frame is persisted and counted driver-side to pick the
    plan — one bounded scalar over an already-aggregated, #days-row
    frame (the repo's documented driver-side-scalar budget class).
    """
    daily = daily.persist()
    n_days = daily.count()
    if n_days * (n_days - 1) // 2 > max_pairs:
        k = 2
        while (k + 1) * k // 2 <= max_pairs:
            k += 1
        lo, hi = daily.agg(
            F.min(d_col).alias("lo"), F.max(d_col).alias("hi")
        ).collect()[0]
        span = int(hi) - int(lo) + 1
        binned = (
            daily.withColumn(
                "bin",
                F.floor(
                    (F.col(d_col) - F.lit(int(lo))) * k / F.lit(span)
                ).cast("bigint"),
            )
            .groupBy("bin")
            .agg(
                F.expr(f"percentile({d_col}, 0.5)").alias("d"),
                F.expr(
                    f"percentile(CAST({rev_col} AS DOUBLE), 0.5)"
                ).alias("rev"),
            )
        )
        base = binned.select("d", "rev")
    else:
        base = daily.select(
            F.col(d_col).alias("d"), F.col(rev_col).alias("rev")
        )
    a = base.select(F.col("d").alias("da"), F.col("rev").alias("ra"))
    b = base.select(F.col("d").alias("db"), F.col("rev").alias("rb"))
    slopes = a.join(F.broadcast(b), F.col("da") < F.col("db")).select(
        (
            (F.col("rb") - F.col("ra")).cast("double")
            / (F.col("db") - F.col("da"))
        ).alias("slope")
    )
    np_ = slopes.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    nd = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    w = Window.orderBy("slope")
    return (
        slopes.withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(np_))
        .crossJoin(F.broadcast(nd))
        .filter(
            F.col("rn")
            == F.ceil(F.col("n_pairs") / F.lit(2.0)).cast("bigint")
        )
        .select("n_days", "n_pairs", F.col("slope").alias("theil_sen_slope"))
    )


@declare(
    "ts_theil_sen",
    sql=f"""
    WITH {_DAILY_REV_CTE},
    slopes AS (
      SELECT CAST(b.rev - a.rev AS DOUBLE) / (b.d - a.d) AS slope
      FROM dly a JOIN dly b ON a.d < b.d),
    np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM slopes),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM dly),
    r AS (SELECT slope, row_number() OVER (ORDER BY slope) AS rn FROM slopes)
    SELECT n_days, n_pairs, slope AS theil_sen_slope
    FROM r CROSS JOIN np CROSS JOIN nd
    WHERE rn = CAST(ceil(n_pairs / 2.0) AS BIGINT)
    """,
    tags=("timeseries", "trend", "robust", "beyond-parity"),
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen slope of daily revenue — the ROBUST trend estimator
    (median of all pairwise slopes; breakdown point 29%) that a single
    outlier day cannot drag the way it drags ts_trend_forecast's OLS
    line. Slopes are one IEEE division of exact DECIMAL revenue deltas
    by integer day gaps; the estimate is the lower median (rank
    ceil(n/2) by slope value), so the result is exactly oracled.

    Scale: the base is the calendar-bounded day grain; the pair frame is
    O(#days²) — 435 rows at the fixture's 30 days, ~5M/decade, built by
    a broadcast theta self-join of the tiny day frame. The global rank
    window covers only that bounded slope frame. Beyond the 500k-pair
    budget (~3 years of days) ``theil_sen_guarded`` switches to the
    time-binned form, so a long-horizon window cannot silently
    quadratic (VERDICT r10 task #3) — the fixture's 30 days stay on
    the exact all-pairs path, so the oracle is unchanged."""
    return theil_sen_guarded(_daily_rev(spark, sf_dir))


@declare(
    "ts_mann_kendall",
    sql=f"""
    WITH {_DAILY_REV_CTE},
    s AS (
      SELECT CAST(sum(CASE WHEN b.rev > a.rev THEN 1
                           WHEN b.rev < a.rev THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat
      FROM dly a JOIN dly b ON a.d < b.d),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dly),
    ties AS (
      SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
             AS tsum
      FROM (SELECT count(*) AS t FROM dly GROUP BY rev
            HAVING count(*) > 1) g),
    v AS (
      SELECT n, s_stat,
             CAST(n * (n - 1) * (2 * n + 5) - tsum AS DOUBLE) / 18.0 AS var_s
      FROM s CROSS JOIN nn CROSS JOIN ties)
    SELECT n AS n_days, s_stat, var_s,
           CASE WHEN var_s <= 0 THEN 0.0
                WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)
                WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)
                ELSE 0.0 END AS z,
           CASE WHEN var_s > 0 AND (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s) > 1.96
                     AND s_stat > 0 THEN 'increasing'
                WHEN var_s > 0 AND (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s) < -1.96
                     AND s_stat < 0 THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM v
    """,
    tags=("timeseries", "trend", "robust", "beyond-parity"),
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend TEST on daily revenue — the nonparametric
    'is there a monotone trend at all?' significance check that pairs
    with ts_theil_sen's magnitude (the standard duo for series with
    outliers or non-normal noise). S = Σ sign(rev_j − rev_i) over i<j is
    an exact BIGINT (DECIMAL compares); Var(S) carries the full tie
    correction as exact integers with one /18.0; Z applies the
    continuity correction and classifies at ±1.96 (95%).

    Scale: same O(#days²) broadcast theta self-join over the
    calendar-bounded day grain as ts_theil_sen; everything downstream is
    1-row scalar frames."""
    # r12: persist the day grain — four branches (both pair sides, the
    # count, the tie aggregate) otherwise each replay the events scan +
    # day aggregate (the theil_sen_guarded pattern applied here too)
    d = _daily_rev(spark, sf_dir).persist()
    a = d.select(F.col("d").alias("da"), F.col("rev").alias("ra"))
    b = d.select(F.col("d").alias("db"), F.col("rev").alias("rb"))
    s = a.join(F.broadcast(b), F.col("da") < F.col("db")).agg(
        F.sum(
            F.when(F.col("rb") > F.col("ra"), 1)
            .when(F.col("rb") < F.col("ra"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s_stat")
    )
    nn = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ties = (
        d.groupBy("rev")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tsum")
        )
    )
    v = (
        s.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ties))
        .select(
            "n",
            "s_stat",
            (
                (
                    F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                    - F.col("tsum")
                ).cast("double")
                / F.lit(18.0)
            ).alias("var_s"),
        )
    )
    zpos = (F.col("s_stat").cast("double") - 1.0) / F.sqrt(F.col("var_s"))
    zneg = (F.col("s_stat").cast("double") + 1.0) / F.sqrt(F.col("var_s"))
    z = (
        F.when(F.col("var_s") <= 0, 0.0)
        .when(F.col("s_stat") > 0, zpos)
        .when(F.col("s_stat") < 0, zneg)
        .otherwise(0.0)
    )
    trend = (
        F.when(
            (F.col("var_s") > 0) & (zpos > 1.96) & (F.col("s_stat") > 0),
            "increasing",
        )
        .when(
            (F.col("var_s") > 0) & (zneg < -1.96) & (F.col("s_stat") < 0),
            "decreasing",
        )
        .otherwise("no_trend")
    )
    return v.select(
        F.col("n").alias("n_days"),
        "s_stat",
        "var_s",
        z.alias("z"),
        trend.alias("trend"),
    )


@declare(
    "ts_kendall_tau",
    sql="""
    WITH dly AS (
      SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS d,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS rev,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1),
    p AS (
      SELECT CASE WHEN b.rev > a.rev THEN 1
                  WHEN b.rev < a.rev THEN -1 ELSE 0 END
             * CASE WHEN b.cnt > a.cnt THEN 1
                    WHEN b.cnt < a.cnt THEN -1 ELSE 0 END AS s
      FROM dly a JOIN dly b ON a.d < b.d),
    agg AS (
      SELECT CAST(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
             CAST(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd,
             CAST(count(*) AS BIGINT) AS n0
      FROM p),
    t1 AS (SELECT CAST(coalesce(sum(t * (t - 1) / 2), 0) AS BIGINT) AS n1
           FROM (SELECT count(*) AS t FROM dly GROUP BY rev
                 HAVING count(*) > 1) g),
    t2 AS (SELECT CAST(coalesce(sum(t * (t - 1) / 2), 0) AS BIGINT) AS n2
           FROM (SELECT count(*) AS t FROM dly GROUP BY cnt
                 HAVING count(*) > 1) g),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM dly)
    SELECT n_days, n0 AS n_pairs, nc AS concordant, nd AS discordant,
           n1 AS ties_rev, n2 AS ties_cnt,
           CASE WHEN (n0 - n1) > 0 AND (n0 - n2) > 0 THEN
             CAST(nc - nd AS DOUBLE)
               / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE))
           END AS tau_b
    FROM agg CROSS JOIN t1 CROSS JOIN t2 CROSS JOIN nn
    """,
    tags=("timeseries", "trend", "robust", "correlation", "beyond-parity"),
)
def ts_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between daily revenue and daily event count —
    'do volume and spend actually move together?' as a rank statistic
    that outliers cannot drag (the robust complement to stat_corr's
    Pearson, closing the trend trio with ts_theil_sen/ts_mann_kendall).
    Concordant/discordant pairs are exact integer sign products over
    the day-pair frame; tau-b carries both per-variable tie corrections
    (n1, n2 as exact pair counts); the statistic is one fixed IEEE
    chain, NULL when a variable is fully tied.

    Scale: the same O(#days²) broadcast theta self-join over the
    calendar-bounded day grain as ts_theil_sen; everything downstream
    is 1-row scalar frames — no window anywhere."""
    e = load_table(spark, sf_dir, "events")
    dly = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("decimal(38,6)")
        .alias("rev"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    a = dly.select(
        F.col("d").alias("da"), F.col("rev").alias("ra"), F.col("cnt").alias("ca")
    )
    b = dly.select(
        F.col("d").alias("db"), F.col("rev").alias("rb"), F.col("cnt").alias("cb")
    )
    s = (
        F.when(F.col("rb") > F.col("ra"), 1)
        .when(F.col("rb") < F.col("ra"), -1)
        .otherwise(0)
        * F.when(F.col("cb") > F.col("ca"), 1)
        .when(F.col("cb") < F.col("ca"), -1)
        .otherwise(0)
    )
    agg = (
        a.join(F.broadcast(b), F.col("da") < F.col("db"))
        .select(s.alias("s"))
        .agg(
            F.sum(F.when(F.col("s") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("nc"),
            F.sum(F.when(F.col("s") < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("nd"),
            F.count(F.lit(1)).cast("bigint").alias("n0"),
        )
    )

    def tie_pairs(col: str, out: str) -> DataFrame:
        return (
            dly.groupBy(col)
            .agg(F.count(F.lit(1)).alias("t"))
            .filter(F.col("t") > 1)
            .agg(
                F.coalesce(
                    F.sum(F.col("t") * (F.col("t") - 1) / 2), F.lit(0)
                )
                .cast("bigint")
                .alias(out)
            )
        )

    nn = dly.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    out = (
        agg.crossJoin(F.broadcast(tie_pairs("rev", "n1")))
        .crossJoin(F.broadcast(tie_pairs("cnt", "n2")))
        .crossJoin(F.broadcast(nn))
    )
    tau = F.when(
        ((F.col("n0") - F.col("n1")) > 0) & ((F.col("n0") - F.col("n2")) > 0),
        (F.col("nc") - F.col("nd")).cast("double")
        / F.sqrt(
            (F.col("n0") - F.col("n1")).cast("double")
            * (F.col("n0") - F.col("n2")).cast("double")
        ),
    )
    return out.select(
        "n_days",
        F.col("n0").alias("n_pairs"),
        F.col("nc").alias("concordant"),
        F.col("nd").alias("discordant"),
        F.col("n1").alias("ties_rev"),
        F.col("n2").alias("ties_cnt"),
        tau.alias("tau_b"),
    )


@declare(
    "stat_hodges_lehmann",
    sql=f"""
    WITH {_DAILY_REV_CTE},
    walsh AS (
      SELECT (CAST(a.rev AS DOUBLE) + CAST(b.rev AS DOUBLE)) / 2.0 AS w
      FROM dly a JOIN dly b ON a.d <= b.d),
    np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM walsh),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM dly),
    r AS (SELECT w, row_number() OVER (ORDER BY w) AS rn FROM walsh)
    SELECT n_days, n_pairs, w AS hodges_lehmann
    FROM r CROSS JOIN np CROSS JOIN nd
    WHERE rn = CAST(ceil(n_pairs / 2.0) AS BIGINT)
    """,
    tags=("stats", "robust", "location", "beyond-parity"),
)
def stat_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges–Lehmann location estimate of daily revenue — the lower
    median of all Walsh averages (rev_i + rev_j)/2 over day pairs i <= j
    (i = j included, the one-sample HL convention) — the estimator dual
    to the Wilcoxon signed-rank test: 29% breakdown like the median, but
    ~95% Gaussian efficiency where the plain median loses a third.
    Completes the robust family next to ts_theil_sen (robust slope) and
    stat_trimmed_mean (robust mean). Averages are one IEEE chain from
    exact DECIMAL day revenues; the estimate is the exactly-oracled
    lower median (rank ceil(n/2)).

    Scale: same bound as ts_theil_sen — the Walsh frame is O(#days²)
    over the calendar-bounded day grain (465 pairs at 30 days), built by
    a broadcast theta self-join; past the 500k-pair budget
    ``hodges_lehmann_guarded`` bins first exactly as theil_sen_guarded
    does (the binned-median reduction applies to Walsh averages
    unchanged — 2000-day unit test in tests/test_temporal.py)."""
    return hodges_lehmann_guarded(_daily_rev(spark, sf_dir))


def hodges_lehmann_guarded(
    daily: DataFrame,
    max_pairs: int = 500_000,
    d_col: str = "d",
    rev_col: str = "rev",
) -> DataFrame:
    """Hodges–Lehmann with the theil_sen_guarded pair budget: past
    ``max_pairs`` the day range splits into the largest k time bins with
    C(k+1,2) <= max_pairs (i <= j INCLUDES the diagonal, so the Walsh
    pair count over k points is C(k+1,2), one more row per point than
    the slope frame) and each bin reduces to its (median day, median
    value) point before the Walsh expansion — work bounded by max_pairs
    on ANY calendar span. The under-budget path is bit-identical to the
    unguarded estimator, so the 30-day oracle is unchanged."""
    daily = daily.persist()
    n_days = daily.count()
    if n_days * (n_days + 1) // 2 > max_pairs:
        k = 1
        while (k + 1) * (k + 2) // 2 <= max_pairs:
            k += 1
        lo, hi = daily.agg(
            F.min(d_col).alias("lo"), F.max(d_col).alias("hi")
        ).collect()[0]
        span = int(hi) - int(lo) + 1
        base = (
            daily.withColumn(
                "bin",
                F.floor(
                    (F.col(d_col) - F.lit(int(lo))) * k / F.lit(span)
                ).cast("bigint"),
            )
            .groupBy("bin")
            .agg(
                F.expr(f"percentile({d_col}, 0.5)").alias("d"),
                F.expr(
                    f"percentile(CAST({rev_col} AS DOUBLE), 0.5)"
                ).alias("rev"),
            )
            .select("d", "rev")
        )
    else:
        base = daily.select(
            F.col(d_col).alias("d"), F.col(rev_col).alias("rev")
        )
    d = base
    a = d.select(F.col("d").alias("da"), F.col("rev").alias("ra"))
    b = d.select(F.col("d").alias("db"), F.col("rev").alias("rb"))
    walsh = a.join(F.broadcast(b), F.col("da") <= F.col("db")).select(
        (
            (F.col("ra").cast("double") + F.col("rb").cast("double")) / 2.0
        ).alias("w")
    )
    np_ = walsh.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    nd = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    w = Window.orderBy("w")
    return (
        walsh.withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(np_))
        .crossJoin(F.broadcast(nd))
        .filter(
            F.col("rn")
            == F.ceil(F.col("n_pairs") / F.lit(2.0)).cast("bigint")
        )
        .select("n_days", "n_pairs", F.col("w").alias("hodges_lehmann"))
    )


@declare(
    "ts_theil_sen_binned",
    sql=f"""
    WITH {_DAILY_REV_CTE},
    bounds AS (SELECT min(d) AS lo, max(d) - min(d) + 1 AS span FROM dly),
    binned AS (
      SELECT CAST(floor((dly.d - bounds.lo) * 8 / bounds.span) AS BIGINT)
               AS bin,
             quantile_cont(CAST(dly.d AS DOUBLE), 0.5) AS d,
             quantile_cont(CAST(dly.rev AS DOUBLE), 0.5) AS rev
      FROM dly CROSS JOIN bounds GROUP BY 1),
    slopes AS (
      SELECT (b.rev - a.rev) / (b.d - a.d) AS slope
      FROM binned a JOIN binned b ON a.d < b.d),
    np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM slopes),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM dly),
    r AS (SELECT slope, row_number() OVER (ORDER BY slope) AS rn FROM slopes)
    SELECT n_days, n_pairs, slope AS theil_sen_slope
    FROM r CROSS JOIN np CROSS JOIN nd
    WHERE rn = CAST(ceil(n_pairs / 2.0) AS BIGINT)
    """,
    tags=("timeseries", "trend", "robust", "binned", "beyond-parity"),
)
def ts_theil_sen_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BINNED branch of ``theil_sen_guarded``, driver-oracled: with
    max_pairs=28 the 30-day fixture exceeds the budget (435 > 28), so
    the estimator takes the long-horizon path — k=8 time bins (largest k
    with C(k,2) <= 28), per-bin exact interpolated medians of day and
    revenue (Spark ``percentile`` ≡ DuckDB ``quantile_cont``, both the
    linear-interpolation-at-(n-1)q definition), pairwise slopes over the
    8 bin points, lower median. The oracle restates the binning
    arithmetic exactly (floor((d-lo)·k/span) on the same integer day
    grain), so the scale-path code — not just the exact path — is
    value-hash-checked every round. ts_theil_sen keeps the exact
    all-pairs result at this window; this query exists to pin the
    fallback's semantics.

    Scale: the entire point — work is C(k,2) <= max_pairs REGARDLESS of
    calendar span; the bin aggregate is one groupBy over the day grain."""
    return theil_sen_guarded(_daily_rev(spark, sf_dir), max_pairs=28)


@declare(
    "ts_ljung_box",
    sql="""
    WITH h AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT) AS hr,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS s
            FROM h GROUP BY 1),
    c AS (SELECT h.event_type, h.hr,
                 CAST(tot.n * h.x - tot.s AS DECIMAL(38,0)) AS cv
          FROM h JOIN tot USING (event_type)),
    g0 AS (SELECT event_type, sum(cv * cv) AS g0 FROM c GROUP BY 1),
    lags AS (SELECT CAST(range AS BIGINT) + 1 AS k FROM range(12)),
    gk AS (
      SELECT a.event_type, l.k, sum(a.cv * b.cv) AS gk
      FROM c a CROSS JOIN lags l
      JOIN c b ON b.event_type = a.event_type AND b.hr = a.hr + l.k
      GROUP BY 1, 2),
    terms AS (
      SELECT gk.event_type, t.n,
             CAST((CAST(gk.gk AS DOUBLE) / CAST(g0.g0 AS DOUBLE))
                  * (CAST(gk.gk AS DOUBLE) / CAST(g0.g0 AS DOUBLE))
                  / (t.n - gk.k) AS DECIMAL(28,18)) AS term
      FROM gk JOIN g0 USING (event_type) JOIN tot t USING (event_type)
      WHERE g0.g0 > 0),
    q AS (
      SELECT event_type, max(n) AS n_hours,
             CAST(count(*) AS BIGINT) AS m,
             CAST(max(n) AS DOUBLE) * (max(n) + 2)
               * CAST(CAST(sum(term) AS DECIMAL(38,18)) AS DOUBLE) AS q_stat
      FROM terms GROUP BY event_type)
    SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours, m, q_stat,
           q_stat > 21.02606981748307 AS reject_white_noise
    FROM q ORDER BY event_type
    """,
    tags=("temporal", "timeseries", "ljung-box", "hypothesis-test",
          "beyond-parity"),
)
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau test per event type: is the hourly count
    series white noise, or is there autocorrelation structure worth
    modeling? Q = n(n+2)·Σ_{k=1..12} ρ_k²/(n−k) over consecutive lags
    1..12, compared to the χ²(12) 95% critical value (21.026..., a
    shared literal — no χ² CDF needed for the decision). ρ_k comes from
    ts_acf's EXACT-INTEGER kernel (centered value n·x_t − S is a bigint;
    γ accumulates in DECIMAL(38,0); the n² cancels in the ratio); each
    ρ_k²/(n−k) term quantizes to DECIMAL(28,18) before the order-
    independent decimal sum. Pairs attach by integer epoch hour, so
    missing hours drop their pairs (stated; the textbook form assumes a
    complete series).

    Scale: identical bounds to ts_acf — one hash aggregate to the
    hourly grain, then a 12× expansion of the tiny per-type hourly
    frame; nothing downstream is event-volume."""
    e = load_table(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type",
        (F.unix_micros(F.date_trunc("hour", "ts")) / F.lit(3600000000))
        .cast("bigint")
        .alias("hr"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    tot = (
        h.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("s"),
        )
        .withColumnRenamed("event_type", "_et")
    )
    from ..functions.dedup import cut_lineage

    c = cut_lineage(
        h.join(F.broadcast(tot), F.col("event_type") == F.col("_et")).select(
            "event_type",
            "hr",
            (F.col("n") * F.col("x") - F.col("s"))
            .cast("decimal(38,0)")
            .alias("cv"),
        )
    )
    g0 = c.groupBy("event_type").agg(F.sum(F.col("cv") * F.col("cv")).alias("g0"))
    b = c.select(
        F.col("event_type").alias("_bet"),
        F.col("hr").alias("_bhr"),
        F.col("cv").alias("_bcv"),
    )
    gk = (
        c.withColumn("k", F.explode(F.sequence(F.lit(1), F.lit(12))))
        .withColumn("k", F.col("k").cast("bigint"))
        .join(
            b,
            (F.col("_bet") == F.col("event_type"))
            & (F.col("_bhr") == F.col("hr") + F.col("k")),
        )
        .groupBy("event_type", "k")
        .agg(F.sum(F.col("cv") * F.col("_bcv")).alias("gk"))
    )
    nt = tot.select(
        F.col("_et").alias("event_type"), F.col("n")
    )
    rho = (F.col("gk").cast("double") / F.col("g0").cast("double"))
    terms = (
        gk.join(g0, "event_type")
        .join(F.broadcast(nt), "event_type")
        .filter(F.col("g0") > 0)
        .select(
            "event_type",
            "n",
            (rho * rho / (F.col("n") - F.col("k")))
            .cast("decimal(28,18)")
            .alias("term"),
        )
    )
    q = terms.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_hours"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
        (
            F.max("n").cast("double")
            * (F.max("n") + 2)
            * F.sum("term").cast("decimal(38,18)").cast("double")
        ).alias("q_stat"),
    )
    return q.select(
        "event_type",
        "n_hours",
        "m",
        "q_stat",
        (F.col("q_stat") > F.lit(21.02606981748307)).alias(
            "reject_white_noise"
        ),
    ).orderBy("event_type")


_CPT_GAIN = """(CAST(k AS DOUBLE)
   * (s1 / CAST(k AS DOUBLE) - s / CAST(n AS DOUBLE))
   * (s1 / CAST(k AS DOUBLE) - s / CAST(n AS DOUBLE))
 + CAST(n - k AS DOUBLE)
   * ((s - s1) / CAST(n - k AS DOUBLE) - s / CAST(n AS DOUBLE))
   * ((s - s1) / CAST(n - k AS DOUBLE) - s / CAST(n AS DOUBLE)))"""


@declare(
    "ts_changepoint",
    sql=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
      FROM events WHERE event_type = 'purchase'
      GROUP BY CAST(ts AS DATE)
    ), pre AS (
      SELECT day, x,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
             sum(x) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1,
             CAST(count(*) OVER () AS BIGINT) AS n,
             sum(x) OVER () AS s
      FROM daily
    ), gains AS (
      SELECT day AS split_day, k AS n_left, n - k AS n_right,
             s1 / CAST(k AS DOUBLE) AS mean_left,
             (s - s1) / CAST(n - k AS DOUBLE) AS mean_right,
             {_CPT_GAIN} AS gain
      FROM pre WHERE k < n
    )
    SELECT split_day, n_left, n_right, mean_left, mean_right, gain
    FROM gains
    ORDER BY gain DESC, split_day
    LIMIT 1
    """,
    tags=("temporal", "changepoint", "drift", "beyond-parity"),
)
def ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single mean-shift changepoint over the daily purchase-revenue
    series — binary segmentation's first split (maximize the
    between-segment sum of squares n1(m1-m)^2 + n2(m2-m)^2, equivalent
    to minimizing within-segment SSE): the "did the corpus change on
    some day, and which?" primitive behind drift triage; run recursively
    on each side for multiple changepoints. Daily sums are
    order-independent DECIMAL (the _dsum pattern); the gain is one fixed
    dialect-shared IEEE chain over (k, n, s1, s), so the oracle replays
    exactly, and the (gain DESC, day) argmax is deterministic.

    Scale: the events scan folds to day grain with one map-side-partial
    aggregate; the prefix/total windows and the 1-row TakeOrdered argmax
    run on the bounded day frame (O(#days) — 3.7k rows/decade),
    allowlisted by construction."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("x")
    )
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    pre = daily.select(
        "day",
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("k"),
        F.sum("x").over(wcum).alias("s1"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
        F.sum("x").over(wall).alias("s"),
    )
    gains = pre.filter(F.col("k") < F.col("n")).select(
        F.col("day").alias("split_day"),
        F.col("k").alias("n_left"),
        (F.col("n") - F.col("k")).alias("n_right"),
        (F.col("s1") / F.col("k").cast("double")).alias("mean_left"),
        (
            (F.col("s") - F.col("s1"))
            / (F.col("n") - F.col("k")).cast("double")
        ).alias("mean_right"),
        F.expr(_CPT_GAIN).alias("gain"),
    )
    return gains.orderBy(F.col("gain").desc(), "split_day").limit(1)


@declare(
    "ts_stl_decompose",
    sql="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
      FROM events WHERE event_type = 'purchase'
      GROUP BY CAST(ts AS DATE)
    ), tr AS (
      SELECT day, x,
             CAST(dayofweek(day) + 1 AS BIGINT) AS dow,
             avg(x) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend
      FROM daily
    ), se AS (
      SELECT day, x, dow, trend,
             avg(x - trend) OVER (PARTITION BY dow) AS s_raw,
             avg(x - trend) OVER () AS s_center
      FROM tr
    )
    SELECT day, x, trend,
           s_raw - s_center AS seasonal,
           x - trend - (s_raw - s_center) AS remainder
    FROM se
    ORDER BY day
    """,
    tags=("temporal", "decomposition", "seasonal", "beyond-parity"),
)
def ts_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style additive decomposition of the daily purchase-revenue
    series: trend = centered 7-day moving average (edge-shrunk window,
    identical semantics both engines), seasonal = day-of-week mean of
    the detrended series re-centered to sum ~0, remainder = the rest —
    the classic triage view (is the anomaly trend, weekday pattern, or
    residual?) behind every corpus-volume dashboard. Daily sums are
    order-independent DECIMAL; every later op is avg/subtract over the
    day frame, so the oracle replays exactly (day-of-week normalized to
    Spark's 1=Sunday convention on the DuckDB side).

    Scale: the events scan folds to day grain with one map-side-partial
    aggregate; all windows run on the bounded O(#days) frame —
    allowlisted by construction."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("x")
    )
    wma = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "x",
        F.dayofweek("day").cast("bigint").alias("dow"),
        F.avg("x").over(wma).alias("trend"),
    )
    se = tr.select(
        "day",
        "x",
        "trend",
        F.avg(F.col("x") - F.col("trend"))
        .over(Window.partitionBy("dow"))
        .alias("s_raw"),
        F.avg(F.col("x") - F.col("trend"))
        .over(Window.partitionBy())
        .alias("s_center"),
    )
    return se.select(
        "day",
        "x",
        "trend",
        (F.col("s_raw") - F.col("s_center")).alias("seasonal"),
        (
            F.col("x") - F.col("trend") - (F.col("s_raw") - F.col("s_center"))
        ).alias("remainder"),
    ).orderBy("day")


_PACF_ACF_HEAD = """
    WITH h AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT) AS hr,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS s
            FROM h GROUP BY 1),
    c AS (SELECT h.event_type, h.hr,
                 CAST(tot.n * h.x - tot.s AS DECIMAL(38,0)) AS cv
          FROM h JOIN tot USING (event_type)),
    g0 AS (SELECT event_type, sum(cv * cv) AS g0 FROM c GROUP BY 1),
    lags AS (SELECT * FROM (VALUES (1), (2), (3)) AS l(k)),
    pairs AS (
      SELECT a.event_type, l.k, sum(a.cv * b.cv) AS gk
      FROM c a CROSS JOIN lags l
      JOIN c b ON b.event_type = a.event_type AND b.hr = a.hr + l.k
      GROUP BY 1, 2),
    r AS (
      SELECT p.event_type,
             max(CASE WHEN p.k = 1 THEN CAST(p.gk AS DOUBLE)
                                        / CAST(g0.g0 AS DOUBLE) END) AS r1,
             max(CASE WHEN p.k = 2 THEN CAST(p.gk AS DOUBLE)
                                        / CAST(g0.g0 AS DOUBLE) END) AS r2,
             max(CASE WHEN p.k = 3 THEN CAST(p.gk AS DOUBLE)
                                        / CAST(g0.g0 AS DOUBLE) END) AS r3
      FROM pairs p JOIN g0 USING (event_type)
      WHERE g0.g0 > 0
      GROUP BY 1)"""


@declare(
    "ts_pacf",
    sql=_PACF_ACF_HEAD + """,
    d2 AS (
      SELECT event_type, r1, r2, r3,
             CASE WHEN 1 - r1 * r1 <> 0
                  THEN (r2 - r1 * r1) / (1 - r1 * r1) END AS phi22
      FROM r),
    d3 AS (
      SELECT event_type, r1, r2, r3, phi22,
             r1 * (1 - phi22) AS phi21
      FROM d2)
    SELECT event_type, r1 AS pacf1, phi22 AS pacf2,
           CASE WHEN 1 - phi21 * r1 - phi22 * r2 <> 0
                THEN (r3 - phi21 * r2 - phi22 * r1)
                     / (1 - phi21 * r1 - phi22 * r2) END AS pacf3
    FROM d3 ORDER BY event_type
    """,
    tags=("temporal", "timeseries", "pacf", "autocorrelation",
          "beyond-parity"),
)
def ts_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation (lags 1-3) of the hourly per-type event
    series via the Durbin-Levinson recursion CLOSED FORMS on the ACF
    estimates: phi_11 = r1, phi_22 = (r2 - r1^2)/(1 - r1^2), phi_21 =
    r1(1 - phi_22), phi_33 = (r3 - phi_21 r2 - phi_22 r1)/(1 - phi_21 r1
    - phi_22 r2) — the AR-order diagnostic next to ts_acf (an AR(p)
    series shows PACF cutting off after lag p, where the ACF only
    decays). The r_k inherit ts_acf's exact-integer construction (bigint
    centered values, DECIMAL(38,0) products, one IEEE division), so both
    engines run identical double arithmetic on identical inputs;
    degenerate denominators (unit-root r1, singular level-2 solve) yield
    NULL rather than Inf. Unrolling the recursion to fixed lag 3 keeps
    the oracle pure ANSI — no recursive CTE, same text verbatim on both
    engines.

    Scale: identical profile to ts_acf — one hash aggregate to hourly
    grain, then a 3-lag self-join on the tiny per-type hourly frame;
    the recursion itself is per-group scalar arithmetic (5 rows)."""
    e = load_table(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type",
        (F.unix_micros(F.date_trunc("hour", "ts")) / F.lit(3600000000))
        .cast("bigint")
        .alias("hr"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    tot = (
        h.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("s"),
        )
        .withColumnRenamed("event_type", "_et")
    )
    from ..functions.dedup import cut_lineage

    c = cut_lineage(
        h.join(F.broadcast(tot), F.col("event_type") == F.col("_et")).select(
            "event_type",
            "hr",
            (F.col("n") * F.col("x") - F.col("s"))
            .cast("decimal(38,0)")
            .alias("cv"),
        )
    )
    g0 = (
        c.groupBy("event_type")
        .agg(F.sum(F.col("cv") * F.col("cv")).alias("g0"))
        .withColumnRenamed("event_type", "_et")
    )
    a = c.select(
        "event_type",
        "hr",
        F.col("cv").alias("ca"),
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
    )
    b = c.select(
        F.col("event_type").alias("_etb"),
        F.col("hr").alias("_hrb"),
        F.col("cv").alias("cb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("_etb") == F.col("event_type"))
            & (F.col("_hrb") == F.col("hr") + F.col("k")),
        )
        .groupBy("event_type", "k")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("gk"))
    )
    rk = (
        pairs.join(F.broadcast(g0), F.col("event_type") == F.col("_et"))
        .where(F.col("g0") > 0)
        .groupBy("event_type")
        .agg(
            *[
                F.max(
                    F.when(
                        F.col("k") == i,
                        F.col("gk").cast("double") / F.col("g0").cast("double"),
                    )
                ).alias(f"r{i}")
                for i in (1, 2, 3)
            ]
        )
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    d2 = rk.select(
        "event_type",
        r1,
        r2,
        r3,
        F.when(
            F.lit(1) - r1 * r1 != 0, (r2 - r1 * r1) / (F.lit(1) - r1 * r1)
        ).alias("phi22"),
    )
    d3 = d2.select(
        "event_type",
        r1,
        r2,
        r3,
        F.col("phi22"),
        (r1 * (F.lit(1) - F.col("phi22"))).alias("phi21"),
    )
    p21, p22 = F.col("phi21"), F.col("phi22")
    return d3.select(
        "event_type",
        r1.alias("pacf1"),
        p22.alias("pacf2"),
        F.when(
            F.lit(1) - p21 * r1 - p22 * r2 != 0,
            (r3 - p21 * r2 - p22 * r1) / (F.lit(1) - p21 * r1 - p22 * r2),
        ).alias("pacf3"),
    ).orderBy("event_type")


@declare(
    "ts_runs_test",
    sql="""
    WITH h AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT) AS hr,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS s
            FROM h GROUP BY 1),
    sgn AS (
      SELECT h.event_type, h.hr,
             CASE WHEN tot.n * h.x > tot.s THEN 1 ELSE 0 END AS above
      FROM h JOIN tot USING (event_type)
      WHERE tot.n * h.x <> tot.s),
    runs AS (
      SELECT event_type, above,
             CASE WHEN lag(above) OVER (PARTITION BY event_type
                                        ORDER BY hr) IS DISTINCT FROM above
                  THEN 1 ELSE 0 END AS is_start
      FROM sgn),
    agg AS (
      SELECT event_type,
             CAST(sum(is_start) AS BIGINT) AS n_runs,
             CAST(sum(above) AS BIGINT) AS n1,
             CAST(sum(1 - above) AS BIGINT) AS n2
      FROM runs GROUP BY 1)
    SELECT event_type, n_runs, n1, n2,
           1.0 + 2.0 * n1 * n2 / (n1 + n2) AS mu,
           CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1
                     AND 2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) > 0
                THEN (n_runs - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
                     / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                            / (CAST((n1 + n2) AS DOUBLE)
                               * (n1 + n2) * (n1 + n2 - 1))) END AS z
    FROM agg ORDER BY event_type
    """,
    tags=("temporal", "timeseries", "hypothesis-test", "randomness",
          "beyond-parity"),
)
def ts_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the hourly per-type
    event series, dichotomized around the series MEAN (the mean variant
    keeps the cut EXACT: x_t > mean iff n*x_t > S in bigint arithmetic —
    no float median interpolation to diverge between engines; exact-mean
    hours are excluded, the standard tie rule). A run is a maximal block
    of consecutive same-side hours; under H0 (random ordering) R is
    asymptotically normal with mu = 2 n1 n2/(n1+n2) + 1 and the classic
    variance, so |z| > 2 flags trending/oscillating traffic — the
    cheap-but-principled monotony detector next to ts_mann_kendall
    (which tests monotone trend specifically).

    Scale: one hash aggregate to hourly grain, one window lag over the
    tiny per-type hourly frame — the window partitions by event_type, so
    no single-partition global sort materializes at any volume."""
    e = load_table(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type",
        (F.unix_micros(F.date_trunc("hour", "ts")) / F.lit(3600000000))
        .cast("bigint")
        .alias("hr"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    tot = (
        h.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("s"),
        )
        .withColumnRenamed("event_type", "_et")
    )
    sgn = (
        h.join(F.broadcast(tot), F.col("event_type") == F.col("_et"))
        .where(F.col("n") * F.col("x") != F.col("s"))
        .select(
            "event_type",
            "hr",
            F.when(F.col("n") * F.col("x") > F.col("s"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("above"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    runs = sgn.select(
        "event_type",
        "above",
        F.when(
            ~F.lag("above").over(w).eqNullSafe(F.col("above")), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("is_start"),
    )
    agg = runs.groupBy("event_type").agg(
        F.sum("is_start").cast("bigint").alias("n_runs"),
        F.sum("above").cast("bigint").alias("n1"),
        F.sum(F.lit(1) - F.col("above")).cast("bigint").alias("n2"),
    )
    n1, n2, nr = F.col("n1"), F.col("n2"), F.col("n_runs")
    mu = F.lit(1.0) + F.lit(2.0) * n1 * n2 / (n1 + n2)
    var_num = F.lit(2.0) * n1 * n2 * (F.lit(2.0) * n1 * n2 - n1 - n2)
    var_den = (n1 + n2).cast("double") * (n1 + n2) * (n1 + n2 - 1)
    return agg.select(
        "event_type",
        "n_runs",
        "n1",
        "n2",
        mu.alias("mu"),
        F.when(
            (n1 > 0) & (n2 > 0) & (n1 + n2 > 1) & (var_num > 0),
            (nr - mu) / F.sqrt(var_num / var_den),
        ).alias("z"),
    ).orderBy("event_type")
