"""Time-series analytic aggregates: interval coalescing, duration-in-state,
reset-aware counter deltas, time-weighted averages.

The reference's temporal surface is scalar date arithmetic only
(``dcc_transforms.py:40-174``); these add the hypertable-analytics family
(TimescaleDB ``state_agg`` / ``counter_agg`` / ``time_weight`` equivalents),
each expressed as window + hash-aggregate plans that scale:

- every operator shuffles ONCE on ``user_id`` (the window partition key);
  the follow-up aggregation reuses rows already grouped per user, and the
  final per-key hash agg is partial-aggregated map-side;
- all money/value arithmetic is integer **cents** (``round(value*100)`` as
  bigint) so the cross-engine hash compare is exact — no floating-point
  accumulation-order drift between Spark and DuckDB;
- gaps-and-islands uses a ``ROWS UNBOUNDED PRECEDING .. 1 PRECEDING``
  running-max frame, an order-insensitive construction whose island COUNT
  is stable under tie reordering (equal-``lo`` intervals always merge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from redcap_omop_etl_spark.sources.readers import Catalog
from redcap_omop_etl_spark.workload import register
from redcap_omop_etl_spark.caching import materialize


def coalesce_intervals(df: DataFrame, *, key: str, lo: str, hi: str) -> DataFrame:
    """Merge overlapping/touching intervals per key into maximal islands.

    Classic gaps-and-islands: an interval starts a new island iff its ``lo``
    exceeds the running max ``hi`` of all earlier intervals in the key's
    timeline; the island id is the running sum of those start flags. One
    shuffle (the window partition by ``key``); both windows and the final
    group-by share that partitioning.
    """
    order = W.partitionBy(key).orderBy(lo, hi)
    prev_max_hi = F.max(hi).over(order.rowsBetween(W.unboundedPreceding, -1))
    with_island = df.withColumn(
        "__new", F.when(F.col(lo) > prev_max_hi, 1).otherwise(0)
    ).withColumn("__island", F.sum("__new").over(order.rowsBetween(W.unboundedPreceding, 0)))
    return with_island.groupBy(key, "__island").agg(
        F.min(lo).alias(lo), F.max(hi).alias(hi), F.count(F.lit(1)).alias("n_merged")
    )


@register(
    "interval_coalesce",
    """
    WITH iv AS (
      SELECT user_id, ts AS lo, ts + INTERVAL 30 DAY AS hi
      FROM events WHERE event_type = 'error'
    ),
    flagged AS (
      SELECT user_id, lo, hi,
             CASE WHEN lo > max(hi) OVER (PARTITION BY user_id ORDER BY lo, hi
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id,
             sum(new_island) OVER (PARTITION BY user_id ORDER BY lo, hi
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island,
             lo, hi
      FROM flagged
    ),
    merged AS (
      SELECT user_id, island, min(lo) AS lo, max(hi) AS hi, count(*) AS n_merged
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id, count(*) AS n_islands, sum(n_merged)::BIGINT AS n_windows,
           max(n_merged) AS max_merged,
           sum(floor(epoch(hi)) - floor(epoch(lo)))::BIGINT AS covered_s
    FROM merged GROUP BY user_id ORDER BY user_id
    """,
    doc="Gaps-and-islands interval coalescing (merge each user's overlapping "
    "30-day error windows into maximal islands) — running-max window + "
    "running-sum island ids; one shuffle shared by both windows and the "
    "rollup. The union-of-intervals primitive behind uptime/incident "
    "coverage accounting.",
)
def interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Catalog(spark, sf_dir)["events"]
    iv = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 30 DAYS")).alias("hi"),
    )
    merged = coalesce_intervals(iv, key="user_id", lo="lo", hi="hi")
    return (
        merged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum("n_merged").alias("n_windows"),
            F.max("n_merged").alias("max_merged"),
            F.sum(F.unix_timestamp("hi") - F.unix_timestamp("lo")).alias("covered_s"),
        )
        .orderBy("user_id")
    )


@register(
    "state_durations",
    """
    WITH seg AS (
      SELECT event_type AS state,
             floor(epoch(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)))::BIGINT
               - floor(epoch(ts))::BIGINT AS dur_s
      FROM events
    )
    SELECT state, count(*) AS n_segments, sum(dur_s)::BIGINT AS total_s,
           max(dur_s) AS max_s
    FROM seg WHERE dur_s IS NOT NULL
    GROUP BY state ORDER BY state
    """,
    doc="Duration-in-state (TimescaleDB state_agg): each event opens a state "
    "segment that lasts until the user's next event (lead over the per-user "
    "timeline); summed per state. One shuffle for the window; the small "
    "per-state agg is map-side partial.",
)
def state_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Catalog(spark, sf_dir)["events"]
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    seg = ev.select(
        F.col("event_type").alias("state"),
        (F.unix_timestamp(F.lead("ts").over(order)) - F.unix_timestamp("ts")).alias("dur_s"),
    ).filter(F.col("dur_s").isNotNull())
    return (
        seg.groupBy("state")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum("dur_s").alias("total_s"),
            F.max("dur_s").alias("max_s"),
        )
        .orderBy("state")
    )


@register(
    "counter_deltas",
    """
    WITH pts AS (
      SELECT user_id, ts, event_id,
             round(value * 100)::BIGINT AS cents
      FROM events WHERE event_type = 'click'
    ),
    d AS (
      SELECT user_id,
             cents - lag(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS delta
      FROM pts
    )
    SELECT user_id,
           count(*) AS n_deltas,
           sum(CASE WHEN delta >= 0 THEN delta ELSE 0 END)::BIGINT AS increase_cents,
           sum(CASE WHEN delta < 0 THEN 1 ELSE 0 END)::BIGINT AS n_resets
    FROM d WHERE delta IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
    doc="Reset-aware counter deltas (TimescaleDB counter_agg): per-user "
    "consecutive differences of a gauge, negative steps counted as resets. "
    "Integer-cents arithmetic keeps the cross-engine hash exact; one window "
    "shuffle, partial-aggregated rollup.",
)
def counter_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Catalog(spark, sf_dir)["events"]
    pts = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    d = pts.select(
        "user_id", (F.col("cents") - F.lag("cents").over(order)).alias("delta")
    ).filter(F.col("delta").isNotNull())
    return (
        d.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_deltas"),
            F.sum(F.when(F.col("delta") >= 0, F.col("delta")).otherwise(0)).alias(
                "increase_cents"
            ),
            F.sum(F.when(F.col("delta") < 0, 1).otherwise(0)).alias("n_resets"),
        )
        .orderBy("user_id")
    )


@register(
    "time_weighted_avg",
    """
    WITH seg AS (
      SELECT user_id,
             round(value * 100)::BIGINT AS cents,
             floor(epoch(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)))::BIGINT
               - floor(epoch(ts))::BIGINT AS dur_s
      FROM events
    )
    SELECT user_id,
           sum(cents * dur_s)::BIGINT AS weighted_cents_s,
           sum(dur_s)::BIGINT AS total_s,
           (sum(cents * dur_s) // sum(dur_s))::BIGINT AS twa_cents_floor
    FROM seg WHERE dur_s IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
    doc="Time-weighted average (TimescaleDB time_weight, LOCF weighting): "
    "each observation holds until the next one; value x duration summed in "
    "exact integer cents-seconds, with the average reported as floor "
    "division so the hash compare is tie-free across engines.",
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Catalog(spark, sf_dir)["events"]
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    seg = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.unix_timestamp(F.lead("ts").over(order)) - F.unix_timestamp("ts")).alias("dur_s"),
    ).filter(F.col("dur_s").isNotNull())
    return (
        seg.groupBy("user_id")
        .agg(
            F.sum(F.col("cents") * F.col("dur_s")).alias("weighted_cents_s"),
            F.sum("dur_s").alias("total_s"),
        )
        .withColumn(
            "twa_cents_floor",
            F.expr("weighted_cents_s div total_s"),
        )
        .orderBy("user_id")
    )


@register(
    "anomaly_mad",
    """
    WITH c AS (
      SELECT event_id, event_type, round(value * 100)::BIGINT AS cents
      FROM events
    ), med AS (
      SELECT event_type, median(cents) AS med FROM c GROUP BY event_type
    ), mad AS (
      SELECT e.event_type, median(abs(e.cents - m.med)) AS mad
      FROM c e JOIN med m USING (event_type)
      GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type,
           floor(0.6745 * (e.cents - m.med) / nullif(d.mad, 0) * 10000 + 0.5) / 10000.0
             AS mz
    FROM c e JOIN med m USING (event_type) JOIN mad d USING (event_type)
    WHERE abs(0.6745 * (e.cents - m.med) / nullif(d.mad, 0)) > 3.0
    """,
    doc="Robust outlier flagging by modified z-score (median absolute "
    "deviation): unlike anomaly_zscore's mean/stddev, the median/MAD "
    "estimators don't let the outliers inflate their own yardstick. Two "
    "dim-sized median aggs broadcast back to the stream — the fact side "
    "never shuffles; nullif guards degenerate zero-MAD groups. The score "
    "runs in integer cents (scale cancels in (x-med)/mad): an "
    "even-count median over RAW doubles interpolates a+0.5*(b-a) in one "
    "engine and (a+b)/2 in the other — a 1-ulp divergence that flipped a "
    "4dp rounding at sf0.1 — while over integers both forms are IEEE-"
    "exact, so every operand is bit-identical cross-engine at any SF.",
)
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir)["events"].select(
        "event_id", "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    med = e.groupBy("event_type").agg(F.median("cents").alias("med"))
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.median(F.abs(F.col("cents") - F.col("med"))).alias("mad"))
    )
    mz = 0.6745 * (F.col("cents") - F.col("med")) / F.nullif(F.col("mad"), F.lit(0.0))
    # floor(x*1e4 + 0.5)/1e4, NOT round(x, 4): Spark rounds the exact
    # decimal expansion of the double while DuckDB scales-then-rounds, so
    # values an ulp under a .00005 boundary round differently; the shared
    # floor formula runs the same IEEE ops on both engines.
    return (
        e.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .filter(F.abs(mz) > 3.0)
        .select("event_id", "event_type", (F.floor(mz * 10000 + 0.5) / 10000.0).alias("mz"))
    )


@register(
    "ts_autocorr",
    """
    WITH lagged AS (
      SELECT user_id, value,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    )
    SELECT user_id,
           count(prev)::BIGINT AS n_pairs,
           round(corr(value, prev), 6) AS lag1_corr
    FROM lagged
    GROUP BY user_id
    HAVING count(prev) >= 30
    """,
    doc="Per-series lag-1 autocorrelation: one shuffle on user_id feeds "
    "both the lag window and the per-user corr aggregate (same "
    "partitioning, no second exchange). corr's two-moment state merges "
    "commutatively map-side. The mean-reversion / trend-persistence "
    "screen for metric streams; the n_pairs floor keeps tiny series from "
    "reporting noise correlations.",
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir)["events"]
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = e.select("user_id", "value", F.lag("value").over(order).alias("prev"))
    # Spark corr returns NaN on a zero-variance (constant) series where
    # DuckDB returns NULL — normalize to NULL so degenerate series can't
    # hash-mismatch cross-engine (same nullif discipline as anomaly_mad).
    corr = F.corr("value", "prev")
    return (
        lagged.groupBy("user_id")
        .agg(
            F.count("prev").alias("n_pairs"),
            F.round(F.when(F.isnan(corr), None).otherwise(corr), 6).alias("lag1_corr"),
        )
        .filter(F.col("n_pairs") >= 30)
    )


@register(
    "ts_decay_features",
    """
    WITH ref AS (
      SELECT user_id,
             floor(epoch(max(ts)))::BIGINT AS t_ref
      FROM events GROUP BY user_id
    )
    SELECT e.user_id,
           count(*)::BIGINT AS n_events,
           round(sum(e.value * exp(-(r.t_ref - floor(epoch(e.ts))) / 86400.0)), 4)
             AS decay_sum_1d,
           round(sum(e.value * exp(-(r.t_ref - floor(epoch(e.ts))) / 604800.0)), 4)
             AS decay_sum_7d
    FROM events e JOIN ref r USING (user_id)
    GROUP BY e.user_id
    """,
    doc="Exponential time-decay feature aggregation (the feature-store "
    "recency-weighted sum): each user's events weighted by "
    "exp(-age/halfwidth) against that user's LAST event, at 1-day and "
    "7-day decay constants. Per-user reference times are a dim-sized agg "
    "broadcast back; one shuffle on user_id; exp() runs on identical "
    "integer-second operands in both engines so the only cross-engine "
    "drift is double summation order, absorbed by the 4dp round.",
)
def ts_decay_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir)["events"]
    ref = e.groupBy("user_id").agg(F.max(F.unix_timestamp("ts")).alias("t_ref"))
    age_s = F.col("t_ref") - F.unix_timestamp("ts")
    return (
        e.join(F.broadcast(ref), "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value") * F.exp(-age_s / 86400.0)), 4).alias("decay_sum_1d"),
            F.round(F.sum(F.col("value") * F.exp(-age_s / 604800.0)), 4).alias("decay_sum_7d"),
        )
    )


@register(
    "ts_ols_trend",
    """
    SELECT event_type,
           regr_count(value, epoch_us(ts)::DOUBLE / 86400000000.0)::BIGINT AS n,
           round(regr_slope(value, epoch_us(ts)::DOUBLE / 86400000000.0), 6)
             AS slope_per_day,
           round(regr_intercept(value, epoch_us(ts)::DOUBLE / 86400000000.0), 6)
             AS intercept,
           round(regr_r2(value, epoch_us(ts)::DOUBLE / 86400000000.0), 6)
             AS r2
    FROM events GROUP BY event_type
    """,
    doc="Group-wise OLS trend: regr_slope/intercept/r2 of value against "
    "time (days, from exact integer microseconds so both engines divide "
    "identical operands) per event_type — the per-metric linear-trend "
    "fit a monitoring pipeline runs as one partial-aggregable hash agg "
    "(regression moments combine associatively, so this is a single "
    "shuffle of 5-double states, not a data motion).",
)
def ts_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir)["events"]
    x_day = F.unix_micros("ts").cast("double") / 86400000000.0
    return e.groupBy("event_type").agg(
        F.regr_count(F.col("value"), x_day).cast("bigint").alias("n"),
        F.round(F.regr_slope(F.col("value"), x_day), 6).alias("slope_per_day"),
        F.round(F.regr_intercept(F.col("value"), x_day), 6).alias("intercept"),
        F.round(F.regr_r2(F.col("value"), x_day), 6).alias("r2"),
    )


@register(
    "ts_markov_transitions",
    """
    WITH nxt AS (
      SELECT event_type AS src_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS dst_type
      FROM events
    ), c AS (
      SELECT src_type, dst_type, count(*) AS n
      FROM nxt WHERE dst_type IS NOT NULL
      GROUP BY src_type, dst_type
    )
    SELECT src_type, dst_type, n::BIGINT AS n,
           round(n::DOUBLE / sum(n) OVER (PARTITION BY src_type), 6) AS p
    FROM c
    """,
    doc="First-order Markov transition matrix over per-user event "
    "streams: lead() within (user_id; ts, event_id) pairs each event with "
    "its successor, then (src, dst) counts and row-normalized transition "
    "probabilities. One shuffle on user_id for the lag, one hash agg on "
    "the state pair; the normalizing window is state-space-bounded. "
    "Integer counts divide exactly, so p is bit-identical cross-engine.",
)
def ts_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir)["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = e.select(
        F.col("event_type").alias("src_type"),
        F.lead("event_type").over(w).alias("dst_type"),
    ).filter(F.col("dst_type").isNotNull())
    c = nxt.groupBy("src_type", "dst_type").agg(F.count(F.lit(1)).alias("n"))
    return c.select(
        "src_type",
        "dst_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(W.partitionBy("src_type")), 6).alias("p"),
    )


# Shared DuckDB fragment: the exact-integer daily series every ts_* query
# below reduces the event stream to before analysing it. One hash agg on
# (event_type, day); cents sums are BIGINT-exact in any accumulation order.
_DAILY_CTE = """daily AS (
      SELECT event_type, ts::DATE AS day,
             sum(round(value * 100)::BIGINT) AS x
      FROM events GROUP BY event_type, ts::DATE
    )"""


def _daily_cents(e: DataFrame) -> DataFrame:
    """Per-(event_type, day) exact integer-cents daily series."""
    return e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))


@register(
    "ts_cusum_changepoint",
    f"""
    WITH {_DAILY_CTE},
    c AS (
      SELECT event_type, day,
             count(*)  OVER (PARTITION BY event_type) AS n_days,
             sum(x)    OVER (PARTITION BY event_type) AS tot,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
             sum(x) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM daily
    ), scored AS (
      SELECT event_type, day, n_days,
             n_days * s - t * tot AS cusum_scaled,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(n_days * s - t * tot) DESC, day) AS rk
      FROM c
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS cp_day, n_days::BIGINT AS n_days,
           round(cusum_scaled::DOUBLE / (n_days * 100.0), 4) AS cusum_peak
    FROM scored WHERE rk = 1
    """,
    doc="CUSUM changepoint detection per metric: reduce the event stream "
    "to an exact integer daily series, then the classic cumulative-sum-of-"
    "deviations statistic C_t = sum_i<=t (x_i - mean). Computed scaled by "
    "n (n*S_t - t*Total) so every operand stays BIGINT-exact; the peak "
    "|C_t| day is the level-shift candidate. One corpus shuffle for the "
    "daily agg; all four windows share one (event_type)-partitioned "
    "exchange over the day-bounded series. The final double division has "
    "identical integer operands cross-engine.",
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir)["events"]
    daily = _daily_cents(e)
    w_all = W.partitionBy("event_type").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    w_run = W.partitionBy("event_type").orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    c = daily.select(
        "event_type",
        "day",
        F.count(F.lit(1)).over(w_all).alias("n_days"),
        F.sum("x").over(w_all).alias("tot"),
        F.row_number().over(W.partitionBy("event_type").orderBy("day")).alias("t"),
        F.sum("x").over(w_run).alias("s"),
    )
    cusum = (F.col("n_days") * F.col("s") - F.col("t") * F.col("tot")).alias("cusum_scaled")
    scored = c.select("event_type", "day", "n_days", cusum).withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("event_type").orderBy(F.abs(F.col("cusum_scaled")).desc(), F.col("day"))
        ),
    )
    return scored.filter(F.col("rk") == 1).select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("cp_day"),
        "n_days",
        F.round(F.col("cusum_scaled").cast("double") / (F.col("n_days") * 100.0), 4).alias(
            "cusum_peak"
        ),
    )


@register(
    "ts_seasonal_strength",
    f"""
    WITH {_DAILY_CTE},
    dowm AS (
      SELECT event_type, dayofweek(day) + 1 AS dow,
             sum(x) AS sx, count(*) AS cx,
             sum(x)::DOUBLE / count(*) AS dow_mean
      FROM daily GROUP BY event_type, dayofweek(day) + 1
    ), joined AS (
      SELECT d.event_type, d.x::HUGEINT AS xi,
             floor((d.x::DOUBLE - m.dow_mean) * 10000 + 0.5)::HUGEINT AS rq
      FROM daily d JOIN dowm m
        ON d.event_type = m.event_type AND dayofweek(d.day) + 1 = m.dow
    ), strength AS (
      SELECT event_type, count(*)::BIGINT AS n_days,
             round(greatest(0.0,
               1.0 - (count(*) * sum(rq * rq) - sum(rq) * sum(rq))::DOUBLE
                     / (100000000.0 *
                        nullif(count(*) * sum(xi * xi) - sum(xi) * sum(xi), 0)::DOUBLE)), 5)
               AS seasonal_strength
      FROM joined GROUP BY event_type
    ), ranked AS (
      SELECT event_type, dow,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY round(dow_mean, 4) DESC, dow) AS rk_hi,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY round(dow_mean, 4) ASC, dow) AS rk_lo
      FROM dowm
    )
    SELECT s.event_type, s.n_days, s.seasonal_strength,
           hi.dow::BIGINT AS peak_dow, lo.dow::BIGINT AS trough_dow
    FROM strength s
    JOIN ranked hi ON hi.event_type = s.event_type AND hi.rk_hi = 1
    JOIN ranked lo ON lo.event_type = s.event_type AND lo.rk_lo = 1
    """,
    doc="Day-of-week seasonal decomposition per metric: seasonal component "
    "= dow means of the exact daily series; seasonal strength = "
    "1 - var(residual)/var(series) (the STL strength statistic), with "
    "peak/trough dow from the 7-row-per-metric seasonal profile "
    "(ties broken on the 4dp-rounded mean, then dow — deterministic "
    "cross-engine because the mean divides exact integer operands). "
    "Residuals are quantized to 4dp integers (floor(r·10⁴+0.5), where r "
    "derives from one bit-identical double division of exact integer "
    "sums), so BOTH variances reduce to exact integer moment sums "
    "(n·Σq²−(Σq)²) — order-independent across engines/partitionings — "
    "with a single double division at the end (no var_samp over doubles). "
    "One corpus shuffle; the profile join is a types*7-row broadcast.",
)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir)["events"]
    # Cache the (types x days)-bounded series: strength and the dow
    # profile are separate action branches, and without the cache each
    # re-runs the corpus scan + daily agg (3 scans; 3.5s at sf0.1 vs
    # ~1.3s cached — Catalyst does not share the common subtree).
    daily = materialize(_daily_cents(e).withColumn("dow", F.dayofweek("day")), "persist")
    # dow mean as a window over (event_type, dow): same sum/count division
    # as the oracle's dowm CTE, no join back to the series needed.
    w_dow = W.partitionBy("event_type", "dow")
    joined = daily.withColumn(
        "dow_mean",
        F.sum("x").over(w_dow).cast("double") / F.count(F.lit(1)).over(w_dow),
    )
    dowm = joined.groupBy("event_type", "dow").agg(F.any_value("dow_mean").alias("dow_mean"))
    # 4dp-quantized residuals → exact integer moment sums (decimal(38,0)
    # mirrors DuckDB's HUGEINT): variance numerators are order-exact, the
    # only double ops are the final division/round over identical operands.
    dec = "decimal(38,0)"
    quant = (
        joined.select(
            "event_type",
            F.col("x").cast(dec).alias("xi"),
            F.floor((F.col("x").cast("double") - F.col("dow_mean")) * 10000 + F.lit(0.5))
            .cast(dec)
            .alias("rq"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast(dec).alias("n"),
            F.sum("rq").alias("sr1"),
            F.sum(F.col("rq") * F.col("rq")).alias("sr2"),
            F.sum("xi").alias("sx1"),
            F.sum(F.col("xi") * F.col("xi")).alias("sx2"),
        )
    )
    var_r = (F.col("n") * F.col("sr2") - F.col("sr1") * F.col("sr1")).cast("double")
    var_x = F.nullif(
        F.col("n") * F.col("sx2") - F.col("sx1") * F.col("sx1"), F.lit(0).cast(dec)
    ).cast("double")
    strength = quant.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.round(
            F.greatest(F.lit(0.0), 1.0 - var_r / (F.lit(100000000.0) * var_x)), 5
        ).alias("seasonal_strength"),
    )
    ranked = dowm.select(
        "event_type",
        "dow",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy(F.round("dow_mean", 4).desc(), F.col("dow")))
        .alias("rk_hi"),
        F.row_number()
        .over(W.partitionBy("event_type").orderBy(F.round("dow_mean", 4).asc(), F.col("dow")))
        .alias("rk_lo"),
    )
    hi = ranked.filter(F.col("rk_hi") == 1).select("event_type", F.col("dow").cast("bigint").alias("peak_dow"))
    lo = ranked.filter(F.col("rk_lo") == 1).select("event_type", F.col("dow").cast("bigint").alias("trough_dow"))
    return strength.join(F.broadcast(hi), "event_type").join(F.broadcast(lo), "event_type")


@register(
    "ts_cross_correlation",
    f"""
    WITH {_DAILY_CTE},
    lags(lg) AS (VALUES (0), (1)),
    shifted AS (
      SELECT d.event_type, d.day + lg * INTERVAL 1 DAY AS jday, lg, d.x
      FROM daily d CROSS JOIN lags
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, a.lg AS lag_days,
             a.x::HUGEINT AS xa, b.x::HUGEINT AS xb
      FROM shifted a JOIN daily b
        ON a.jday = b.day AND a.event_type < b.event_type
    ), mom AS (
      SELECT type_a, type_b, lag_days, count(*)::HUGEINT AS n,
             sum(xa) AS sa, sum(xb) AS sb, sum(xa * xb) AS sab,
             sum(xa * xa) AS saa, sum(xb * xb) AS sbb
      FROM pairs GROUP BY type_a, type_b, lag_days
      HAVING count(*) >= 30
    )
    SELECT type_a, type_b, lag_days::BIGINT AS lag_days, n::BIGINT AS n_days,
           round((n * sab - sa * sb)::DOUBLE
                 / nullif(sqrt((n * saa - sa * sa)::DOUBLE)
                          * sqrt((n * sbb - sb * sb)::DOUBLE), 0), 6) AS xcorr
    FROM mom
    """,
    doc="Cross-correlation between metric pairs at lags 0 and 1 day: "
    "corr(x_a(t), x_b(t+lag)) over the exact integer daily series, "
    "emitted for every unordered type pair with >= 30 aligned days. "
    "The corpus collapses to a (types x days) table in one shuffle; the "
    "lag shift is arithmetic (no extra window) and the pair join runs on "
    "the day key of the bounded series — at 100 TB the join input is "
    "days x types rows regardless of event volume. Pearson r is computed "
    "from exact integer moment sums (n, Σx, Σy, Σxy, Σx², Σy² in "
    "decimal(38,0)/HUGEINT — order-independent, unlike corr()'s double "
    "accumulation), with one double normalize/round at the end, 6dp.",
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir)["events"]
    daily = _daily_cents(e)
    shifted = daily.select(
        "event_type",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("lag_days"),
        "day",
        "x",
    ).select(
        "event_type",
        "lag_days",
        F.date_add("day", F.col("lag_days")).alias("jday"),
        "x",
    )
    b = daily.select(
        F.col("event_type").alias("type_b"), F.col("day").alias("bday"), F.col("x").alias("xb")
    )
    pairs = shifted.join(
        b, (F.col("jday") == F.col("bday")) & (F.col("event_type") < F.col("type_b"))
    )
    dec = "decimal(38,0)"
    xa, xb = F.col("x").cast(dec), F.col("xb").cast(dec)
    mom = (
        pairs.select(
            F.col("event_type").alias("type_a"),
            "type_b",
            F.col("lag_days").cast("bigint").alias("lag_days"),
            xa.alias("xa"),
            xb.alias("xb"),
        )
        .groupBy("type_a", "type_b", "lag_days")
        .agg(
            F.count(F.lit(1)).cast(dec).alias("n"),
            F.sum("xa").alias("sa"),
            F.sum("xb").alias("sb"),
            F.sum(F.col("xa") * F.col("xb")).alias("sab"),
            F.sum(F.col("xa") * F.col("xa")).alias("saa"),
            F.sum(F.col("xb") * F.col("xb")).alias("sbb"),
        )
        .filter(F.col("n") >= 30)
    )
    num = (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")).cast("double")
    den = F.nullif(
        F.sqrt((F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")).cast("double"))
        * F.sqrt((F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")).cast("double")),
        F.lit(0.0),
    )
    return mom.select(
        "type_a",
        "type_b",
        "lag_days",
        F.col("n").cast("bigint").alias("n_days"),
        F.round(num / den, 6).alias("xcorr"),
    )


@register(
    "ts_forecast_backtest",
    f"""
    WITH {_DAILY_CTE},
    paired AS (
      SELECT a.event_type, a.x AS actual, f.x AS forecast
      FROM daily a JOIN daily f
        ON f.event_type = a.event_type AND f.day = a.day - INTERVAL 7 DAY
    )
    SELECT event_type,
           count(*)::BIGINT AS n_evals,
           round(sum(abs(actual - forecast))::DOUBLE / (count(*) * 100), 4) AS mae,
           round(sum(abs(actual - forecast))::DOUBLE / nullif(sum(abs(actual)), 0), 6) AS wape,
           round(sum(actual - forecast)::DOUBLE / (count(*) * 100), 4) AS bias
    FROM paired GROUP BY event_type
    """,
    doc="Forecast backtest: the seasonal-naive baseline (forecast = value "
    "7 days prior) evaluated per metric with MAE, WAPE and mean bias — "
    "the accuracy floor every real forecasting model must beat, and the "
    "standard shape of a backtest join (predictions vs actuals on the "
    "time key). WAPE (Σ|err|/Σ|actual|) replaces sMAPE deliberately: it "
    "aggregates as a ratio of two exact integer sums, so the metric is "
    "order-independent and bit-identical cross-engine, while a mean of "
    "per-day double ratios would accumulate in engine-dependent order. "
    "One corpus shuffle to the daily series; the self-join runs on the "
    "bounded (types x days) table via an arithmetic date shift.",
)
def ts_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir)["events"]
    daily = _daily_cents(e)
    f_ = daily.select(
        F.col("event_type").alias("et"),
        F.date_add("day", 7).alias("fday"),
        F.col("x").alias("forecast"),
    )
    paired = daily.join(
        f_, (F.col("event_type") == F.col("et")) & (F.col("day") == F.col("fday"))
    )
    err = F.col("x") - F.col("forecast")
    return paired.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_evals"),
        F.round(F.sum(F.abs(err)).cast("double") / (F.count(F.lit(1)) * 100), 4).alias("mae"),
        F.round(
            F.sum(F.abs(err)).cast("double") / F.nullif(F.sum(F.abs(F.col("x"))), F.lit(0)), 6
        ).alias("wape"),
        F.round(F.sum(err).cast("double") / (F.count(F.lit(1)) * 100), 4).alias("bias"),
    )
