"""Temporal analytics: complex-event-processing pattern matching
over ordered per-user event sequences, distinct-count over sliding
time windows (an operator Spark lacks natively, built as a bounded
fan-out composition), and ISO-calendar rollups.

Reference trace: the reference engine is a batch wordcount library
(mapreduce.c) with no time dimension; this module extends the same
shuffle shapes (key → ordered values → aggregate, A7/A8's sorted
grouped-reduce contract) to event time.

100 TB notes per operator are in the docstrings; none of these
collects to the driver, and the only per-user state is the user's
own event-type sequence (bounded by events-per-user, the same bound
any sessionizer carries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.text import ngrams

# ---------------------------------------------------------------------------
# event_pattern_match — CEP via regex over the per-user event-type string
# ---------------------------------------------------------------------------

# event_type -> one char, so a user's ordered history is a compact
# string and a behavior pattern is a regex over it. Simple regexes
# only (no backrefs/lookaround): Java regex (Spark) and RE2 (DuckDB)
# agree on leftmost non-overlapping matching for this class.
EVENT_CHARS = {
    "click": "c",
    "error": "e",
    "purchase": "p",
    "signup": "s",
    "view": "v",
}

# (pattern name, regex over the char alphabet)
CEP_PATTERNS = [
    ("browse_to_buy", "v[cv]*p"),  # view, optional clicks/views, purchase
    ("error_burst", "ee+"),  # 2+ consecutive errors
    ("signup_to_buy", "s[^p]*p"),  # signup eventually followed by purchase
    # NEGATIVE pattern (absence matching — the MATCH_RECOGNIZE class
    # regexes get for free): a click never followed by any purchase,
    # i.e. the user's history ENDS in an abandoned funnel. The $
    # anchor is shared Java-regex/RE2 semantics.
    ("abandoned_click", "c[^p]*$"),
]


def event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style complex event processing without the
    clause: each user's event history becomes one compact string
    (one char per event, ordered by time), and each behavior pattern
    is a regex counted with ``regexp_extract_all`` — non-overlapping
    leftmost matches, identical semantics in both engines.

    Plan: ONE shuffle (groupBy user) building the sequence string via
    ``array_sort(collect_list(struct(ts, event_id, chr)))`` — the
    struct sort makes the order total and engine-independent (ties on
    ts broken by unique event_id) — then a narrow regex count per
    pattern and one tiny final aggregate. The per-user string is the
    only state (events-per-user chars), the same bound a sessionizer
    carries; a 100 TB run shuffles each event exactly once as a
    1-byte payload plus key/ts.

    Output per pattern: users_matched, total_matches.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", _event_char("event_type").alias("chr")
    )
    seq = (
        ev.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "chr"))
                    ),
                    lambda s: s["chr"],
                ),
                "",
            ).alias("seq")
        )
    )
    # ALL patterns count in ONE aggregate pass over the sequence
    # table (a per-pattern union of aggregates would recompute the
    # groupBy shuffle once per pattern); stack rotates the one wide
    # row to the per-pattern long form.
    aggs = []
    for i, (name, pat) in enumerate(CEP_PATTERNS):
        m = F.size(F.regexp_extract_all("seq", F.lit(pat), F.lit(0)))
        aggs += [
            F.sum(F.when(m > 0, 1).otherwise(0)).alias(f"u_{i}"),
            F.sum(m).alias(f"t_{i}"),
        ]
    wide = seq.agg(*aggs)
    stack_args: list = []
    for i, (name, _) in enumerate(CEP_PATTERNS):
        stack_args += [F.lit(name), F.col(f"u_{i}"), F.col(f"t_{i}")]
    return (
        wide.select(
            F.stack(F.lit(len(CEP_PATTERNS)), *stack_args).alias(
                "pattern", "users_matched", "total_matches"
            )
        )
        .orderBy("pattern")
    )


def _event_char(col: str) -> F.Column:
    expr = F.lit(None).cast("string")
    mapping = F.create_map(
        *[F.lit(x) for kv in EVENT_CHARS.items() for x in kv]
    )
    expr = mapping[F.col(col)]
    # unknown event types map to 'x' so they can't accidentally
    # complete a pattern
    return F.coalesce(expr, F.lit("x"))


def _cep_sql() -> str:
    case = " ".join(
        f"WHEN event_type = '{k}' THEN '{v}'" for k, v in EVENT_CHARS.items()
    )
    parts = []
    for name, pat in CEP_PATTERNS:
        parts.append(
            f"""
    SELECT '{name}' AS pattern,
           sum(CASE WHEN m > 0 THEN 1 ELSE 0 END)::BIGINT AS users_matched,
           sum(m)::BIGINT AS total_matches
    FROM (
      SELECT len(regexp_extract_all(seq, '{pat}')) AS m FROM seqs
    )"""
        )
    union = " UNION ALL ".join(parts)
    return f"""
WITH seqs AS (
  SELECT user_id,
         string_agg(CASE {case} ELSE 'x' END, '' ORDER BY ts, event_id) AS seq
  FROM events GROUP BY user_id
)
{union}
ORDER BY pattern
"""


# ---------------------------------------------------------------------------
# sliding_distinct_users — COUNT(DISTINCT) over a sliding time window
# ---------------------------------------------------------------------------

SLIDING_DAYS = 7


def sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the DAU/WAU
    query. Spark's window functions reject DISTINCT aggregates, so
    the operator is rebuilt as a composition with a BOUNDED fan-out:

    1. dedupe to (user, day)            — 1 shuffle, the real volume cut
    2. each (user, day) contributes to anchors [day, day+6] — narrow
       ``explode(sequence(...))``, fan-out ≤ 7 (the window length)
    3. exact count_distinct(user) per anchor — 1 aggregate

    versus the naive day×events range join (window-length × full
    scan). At 100 TB the dedup output is what ships: |users×days|
    rows ×7, each a (date, long) pair. The fan-out factor is the
    window length — constant, chosen, and visible.

    Output: day (yyyy-MM-dd), n_users.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    ud = ev.distinct()
    mx = ud.agg(F.max("day").alias("maxd"))
    fan = ud.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.least(F.date_add("day", SLIDING_DAYS - 1), F.col("maxd")),
            )
        ).alias("anchor"),
    )
    return (
        fan.groupBy(F.date_format("anchor", "yyyy-MM-dd").alias("day"))
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("day")
    )


_SLIDING_DISTINCT_SQL = f"""
WITH ud AS (
  SELECT DISTINCT user_id, ts::DATE AS day FROM events
), mx AS (SELECT max(day) AS maxd FROM ud),
fan AS (
  SELECT user_id,
         unnest(generate_series(day::TIMESTAMP,
                                least(day + INTERVAL {SLIDING_DAYS - 1} DAY,
                                      maxd)::TIMESTAMP,
                                INTERVAL 1 DAY))::DATE AS anchor
  FROM ud, mx
)
SELECT strftime(anchor, '%Y-%m-%d') AS day,
       count(DISTINCT user_id)::BIGINT AS n_users
FROM fan GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# iso_week_rollup — ISO-8601 calendar intelligence
# ---------------------------------------------------------------------------


def iso_week_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order volume and revenue by ISO-8601 week — the calendar the
    business reports on, where the year boundary follows the week
    (Jan 1 can belong to week 52/53 of the PREVIOUS iso year; both
    engines implement the standard, the oracle proves they agree).
    One hash aggregate; revenue sums exactly in DECIMAL cents.

    Output: iso_year, iso_week, n_orders, revenue.
    """
    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        o.groupBy(
            F.expr("extract(YEAROFWEEK FROM o_orderdate)").cast("int").alias("iso_year"),
            F.weekofyear("o_orderdate").alias("iso_week"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents.cast("decimal(28,4)")) / F.lit(100.0))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("iso_year", "iso_week")
    )


_ISO_WEEK_SQL = """
SELECT isoyear(o_orderdate)::INT AS iso_year,
       weekofyear(o_orderdate)::INT AS iso_week,
       count(*)::BIGINT AS n_orders,
       (sum(round(o_totalprice * 100)::BIGINT::DECIMAL(28,4)) / 100.0)::DOUBLE
         AS revenue
FROM orders
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# time_weighted_average — TWAP over step-function event values
# ---------------------------------------------------------------------------


def time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-weighted average value per user (TWAP): each event's
    value HOLDS until the user's next event (step-function
    semantics — the IoT/finance reading of an event stream, where a
    plain AVG over-weights bursts: 100 readings in one minute count
    100× even if the state barely held). Weight = microseconds until
    the next event; the final event of each user carries no interval
    and is excluded (open-ended holds would be unbounded).

    Exactness: weights are exact µs longs from one ``lead`` window,
    values are exact cents; Σ(cents·µs) accumulates in decimal(38,0)
    (the product alone can pass int64 over month-long holds) and the
    single division at the end is IEEE. One per-user window + one
    aggregate — the sessionization shuffle shape.

    Output: user_id, n_intervals, span_us, twap (cents, round 6).
    """
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    stepped = ev.withColumn("next_us", F.lead("us").over(w)).where(
        F.col("next_us").isNotNull()
    )
    dur = F.col("next_us") - F.col("us")
    dec = "decimal(38,0)"
    return (
        stepped.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum(dur).alias("span_us"),
            F.round(
                F.sum((F.col("cents").cast(dec) * dur.cast(dec))).cast("double")
                / F.sum(dur).cast("double"),
                6,
            ).alias("twap"),
        )
        .orderBy("user_id")
    )


_TWAP_SQL = """
WITH stepped AS (
  SELECT user_id,
         epoch_us(ts) AS us,
         lead(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next_us,
         round(value * 100)::BIGINT AS cents
  FROM events
)
SELECT user_id,
       count(*)::BIGINT AS n_intervals,
       sum(next_us - us)::BIGINT AS span_us,
       round(sum(cents::HUGEINT * (next_us - us)::HUGEINT)::DOUBLE
             / sum(next_us - us)::DOUBLE, 6) AS twap
FROM stepped WHERE next_us IS NOT NULL
GROUP BY user_id ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# revenue_anomaly_days — rolling-statistics breach detection
# ---------------------------------------------------------------------------

ANOM_WINDOW = 14  # trailing days in the baseline (current day excluded)
ANOM_MIN_PRIOR = 7  # need at least this many prior days to judge
ANOM_K = 3.0  # breach fence: > mean + 3σ


def revenue_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-statistics anomaly detection on the daily revenue
    series: a day breaches when its revenue exceeds the trailing
    14-day mean + 3σ (current day EXCLUDED from its own baseline —
    the classic self-masking bug). The monitoring query every revenue
    pipeline runs.

    Scale shape: the raw fact table aggregates to DAY GRAIN first
    (that shuffle is the whole data-touching cost); the rolling
    window then runs over one-row-per-day — thousands of rows for
    decades of history — so the unpartitioned window is a
    non-problem by construction. Exactness: Σx and Σx² over the
    frame are decimal(38,0) integer moments (day-cents square past
    int64 — the ``stats_correlation`` lesson), mean/σ derive once in
    IEEE doubles, and the breach comparison is deterministic on both
    engines.

    Output (days with ≥7 prior days): day, revenue_cents, base_mean,
    base_sd, is_anomaly.
    """
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias("day")
    ).agg(_day_cents().alias("cents"))
    w = Window.orderBy("day").rowsBetween(-ANOM_WINDOW, -1)
    dec = "decimal(38,0)"
    sx = F.sum(F.col("cents").cast(dec)).over(w)
    sxx = F.sum((F.col("cents").cast(dec) * F.col("cents").cast(dec))).over(w)
    n = F.count(F.lit(1)).over(w)
    nd = n.cast("double")
    mean = sx.cast("double") / nd
    var = (n.cast(dec) * sxx - sx * sx).cast("double") / (nd * nd)
    sd = F.sqrt(var)
    out = daily.select(
        "day",
        "cents",
        n.alias("n_prior"),
        mean.alias("mean_d"),
        sd.alias("sd_d"),
    ).where(F.col("n_prior") >= ANOM_MIN_PRIOR)
    # mean/sd ship as FLOOR-quantized micro-cent longs: the doubles
    # are bit-identical across engines (IEEE-only derivation), and
    # floor never has the round()-half-tie divergence (Spark rounds
    # the shortest decimal repr, DuckDB the binary double — a
    # measured 1e-6 flip on this very column)
    return out.select(
        "day",
        F.col("cents").alias("revenue_cents"),
        F.floor(F.col("mean_d") * 1e6).cast("long").alias("base_mean_micro"),
        F.floor(F.col("sd_d") * 1e6).cast("long").alias("base_sd_micro"),
        (
            F.col("cents").cast("double")
            > F.col("mean_d") + F.lit(ANOM_K) * F.col("sd_d")
        ).alias("is_anomaly"),
    ).orderBy("day")


def _day_cents() -> Column:
    from pyspark.sql import functions as F  # noqa: F811

    return F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")


_ANOMALY_SQL = f"""
WITH daily AS (
  SELECT strftime(o_orderdate::DATE, '%Y-%m-%d') AS day,
         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
  FROM orders GROUP BY 1
), rolled AS (
  SELECT day, cents,
         count(*) OVER w AS n_prior,
         sum(cents::HUGEINT) OVER w AS sx,
         sum(cents::HUGEINT * cents::HUGEINT) OVER w AS sxx
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN {ANOM_WINDOW} PRECEDING AND 1 PRECEDING)
)
SELECT day, cents AS revenue_cents,
       floor((sx::DOUBLE / n_prior::DOUBLE) * 1e6)::BIGINT AS base_mean_micro,
       floor(sqrt((n_prior::HUGEINT * sxx - sx * sx)::DOUBLE
                  / (n_prior::DOUBLE * n_prior::DOUBLE)) * 1e6)::BIGINT
         AS base_sd_micro,
       cents::DOUBLE > (sx::DOUBLE / n_prior::DOUBLE)
         + {ANOM_K} * sqrt((n_prior::HUGEINT * sxx - sx * sx)::DOUBLE
                           / (n_prior::DOUBLE * n_prior::DOUBLE)) AS is_anomaly
FROM rolled WHERE n_prior >= {ANOM_MIN_PRIOR}
ORDER BY day
"""


# ---------------------------------------------------------------------------
# error_rate_hourly — diurnal reliability profile
# ---------------------------------------------------------------------------


def error_rate_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal reliability profile: error fraction per hour-of-day —
    the on-call chart that separates "errors spike at peak traffic"
    (rate flat, volume up) from "errors spike at 03:00" (the cron
    job). One conditional aggregate on a 24-value key; the rate is a
    single IEEE division shipped floor-micro.

    Output: hour, n_events, n_errors, error_rate_micro.
    """
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.hour("ts").alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "n_errors"
            ),
        )
        .select(
            "hour",
            "n_events",
            "n_errors",
            F.floor(
                F.col("n_errors").cast("double")
                / F.col("n_events").cast("double")
                * 1e6
            )
            .cast("long")
            .alias("error_rate_micro"),
        )
        .orderBy("hour")
    )


_ERROR_RATE_SQL = """
SELECT hour(ts)::INT AS hour,
       count(*)::BIGINT AS n_events,
       sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_errors,
       floor(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::DOUBLE
             / count(*)::DOUBLE * 1e6)::BIGINT AS error_rate_micro
FROM events GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# cumulative_new_users — the growth curve
# ---------------------------------------------------------------------------


def cumulative_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The growth curve: per day, how many users were seen for the
    FIRST time, and the cumulative distinct-user count to date —
    computed from first-seen days (one aggregate per user), not by
    re-counting distinct users per prefix (which is |days| scans or
    an unbounded-state window). The cumulative sum then runs over
    one-row-per-day — size-invariant, like the anomaly baseline.

    Output: day, new_users, cum_users.
    """
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    per_day = first_seen.groupBy(
        F.date_format("first_day", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "day", "new_users", F.sum("new_users").over(w).alias("cum_users")
    ).orderBy("day")


_CUM_USERS_SQL = """
WITH first_seen AS (
  SELECT user_id, min(ts::DATE) AS first_day FROM events GROUP BY 1
), per_day AS (
  SELECT strftime(first_day, '%Y-%m-%d') AS day, count(*)::BIGINT AS new_users
  FROM first_seen GROUP BY 1
)
SELECT day, new_users,
       sum(new_users) OVER (ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_users
FROM per_day ORDER BY day
"""


# ---------------------------------------------------------------------------
# weekday_seasonality — day-of-week seasonal index
# ---------------------------------------------------------------------------


def weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index of order revenue: each weekday's
    average daily revenue relative to the overall daily average
    (index 1.0 = no seasonality) — the decomposition input any
    forecast or anomaly baseline should remove first (a Monday dip
    is seasonality, not an incident; ``revenue_anomaly_days``'s
    trailing window absorbs level shifts but not weekly shape).

    Two-level exactness: revenue aggregates to exact day-cents
    first (so weekdays with more calendar days don't bias the mean),
    then per-weekday exact moments; the index is one IEEE division
    chain shipped as floor-micro. ISO weekday numbering (1=Mon).

    Output: iso_weekday, n_days, avg_day_cents_micro, index_micro.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    per_wd = daily.groupBy(
        F.expr("extract(DAYOFWEEK_ISO FROM day)").cast("int").alias("iso_weekday")
    ).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("cents").alias("sum_cents"),
    )
    overall = per_wd.agg(
        F.sum("sum_cents").alias("tot_cents"), F.sum("n_days").alias("tot_days")
    )
    avg_wd = F.col("sum_cents").cast("double") / F.col("n_days").cast("double")
    avg_all = F.col("tot_cents").cast("double") / F.col("tot_days").cast("double")
    mic = F.lit(1e6)
    return (
        per_wd.crossJoin(F.broadcast(overall))
        .select(
            "iso_weekday",
            "n_days",
            F.floor(avg_wd * mic).cast("long").alias("avg_day_cents_micro"),
            F.floor(avg_wd / avg_all * mic).cast("long").alias("index_micro"),
        )
        .orderBy("iso_weekday")
    )


_WEEKDAY_SQL = """
WITH daily AS (
  SELECT o_orderdate::DATE AS day,
         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
  FROM orders GROUP BY 1
), per_wd AS (
  SELECT isodow(day)::INT AS iso_weekday,
         count(*)::BIGINT AS n_days,
         sum(cents)::BIGINT AS sum_cents
  FROM daily GROUP BY 1
), overall AS (
  SELECT sum(sum_cents)::BIGINT AS tot_cents, sum(n_days)::BIGINT AS tot_days
  FROM per_wd
)
SELECT iso_weekday, n_days,
       floor(sum_cents::DOUBLE / n_days::DOUBLE * 1e6)::BIGINT
         AS avg_day_cents_micro,
       floor(sum_cents::DOUBLE / n_days::DOUBLE
             / (tot_cents::DOUBLE / tot_days::DOUBLE) * 1e6)::BIGINT
         AS index_micro
FROM per_wd CROSS JOIN overall
ORDER BY iso_weekday
"""


# ---------------------------------------------------------------------------
# funnel_time_to_convert — view→purchase latency distribution
# ---------------------------------------------------------------------------


def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency distribution of the conversion funnel: for every
    purchase, the time since the same user's most recent prior view
    (the as-of attribution this repo already verifies), summarized
    as exact p25/p50/p75/p90 latency percentiles plus the
    conversion-with-attribution count — "how long does intent take
    to convert", the funnel metric after
    ``funnel_conversion``'s "does it convert".

    One union-tag shuffle (the ``asof_purchase_attribution``
    single-pass trick: views carry their ts forward via
    last(ignorenulls) over the per-user timeline), then one exact
    percentile aggregate over the attributed µs gaps. Percentile
    interpolation parity is the proven ``grouped_quantiles``
    contract; outputs are exact-µs-derived, round 6 safe (single
    IEEE ops on .5-exact interpolants — same class as
    outlier_mad_robust).

    Output (1 row): n_attributed, p25_s, p50_s, p75_s, p90_s.
    """
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        "event_type",
    )
    tagged = ev.where(F.col("event_type").isin("view", "purchase")).select(
        "user_id",
        "us",
        "event_id",
        F.when(F.col("event_type") == "view", F.col("us")).alias("view_us"),
        (F.col("event_type") == "purchase").alias("is_purchase"),
    )
    # views sort before purchases at identical ts (>= as-of semantics)
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", F.col("is_purchase").cast("int"), "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    attributed = (
        tagged.withColumn("last_view_us", F.last("view_us", ignorenulls=True).over(w))
        .where(F.col("is_purchase") & F.col("last_view_us").isNotNull())
        .select(((F.col("us") - F.col("last_view_us")) / F.lit(1e6)).alias("gap_s"))
    )
    pct = F.expr("percentile(gap_s, array(0.25, 0.5, 0.75, 0.9))")
    return attributed.agg(
        F.count(F.lit(1)).alias("n_attributed"),
        F.round(pct[0], 6).alias("p25_s"),
        F.round(pct[1], 6).alias("p50_s"),
        F.round(pct[2], 6).alias("p75_s"),
        F.round(pct[3], 6).alias("p90_s"),
    )


_TTC_SQL = """
WITH tagged AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
         CASE WHEN event_type = 'view' THEN epoch_us(ts) END AS view_us,
         event_type = 'purchase' AS is_purchase
  FROM events WHERE event_type IN ('view', 'purchase')
), attributed AS (
  SELECT (us - last_view_us) / 1e6 AS gap_s
  FROM (
    SELECT us, is_purchase,
           last_value(view_us IGNORE NULLS) OVER (
             PARTITION BY user_id
             ORDER BY us, is_purchase::INT, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_us
    FROM tagged
  ) WHERE is_purchase AND last_view_us IS NOT NULL
)
SELECT count(*)::BIGINT AS n_attributed,
       round(quantile_cont(gap_s, 0.25), 6) AS p25_s,
       round(quantile_cont(gap_s, 0.5), 6) AS p50_s,
       round(quantile_cont(gap_s, 0.75), 6) AS p75_s,
       round(quantile_cont(gap_s, 0.9), 6) AS p90_s
FROM attributed
"""


# ---------------------------------------------------------------------------
# sliding_distinct_hll — the mergeable-sketch form of the sliding window
# ---------------------------------------------------------------------------


def sliding_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of ``sliding_distinct_users``: ONE HLL sketch
    per day (Apache DataSketches, mergeable), then each trailing
    window is a UNION OF ≤7 SKETCHES — the raw (user, day) rows are
    touched exactly once ever, and every window rollup thereafter
    merges |window| kilobyte-sized sketches instead of re-scanning
    the fan-out of raw rows. This is how daily partitions at 100 TB
    serve arbitrary trailing windows (7/28/90-day) from tiny state;
    the exact twin keeps it honest (test pins the estimate within
    HLL error of the exact counts).

    Plan: per-day sketch aggregate (1 shuffle over events), ≤7×
    fan-out of the ~|days| SKETCH rows (not the raw rows — the whole
    point), per-anchor ``hll_union_agg``. Estimates are
    sketch-dependent → rows-only driver check by design.

    Output: day (yyyy-MM-dd), est_users.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    daily = ev.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    mx = daily.agg(F.max("day").alias("maxd"))
    fan = daily.crossJoin(F.broadcast(mx)).select(
        "sk",
        F.explode(
            F.sequence(
                F.col("day"),
                F.least(F.date_add("day", SLIDING_DAYS - 1), F.col("maxd")),
            )
        ).alias("anchor"),
    )
    return (
        fan.groupBy(F.date_format("anchor", "yyyy-MM-dd").alias("day"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"))
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# event_transition_matrix — first-order Markov transitions
# ---------------------------------------------------------------------------


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every consecutive (prev → next) event-type pair
    within a user's timeline, the count and the row-normalized
    transition probability — the path-analysis complement to the CEP
    regexes (CEP asks "does this pattern occur", this asks "where do
    users go next from each state").

    One shuffle: the per-user (ts, event_id)-ordered ``lag`` window;
    then a 25-cell aggregate and a broadcast row-total join. The
    probability is one IEEE division of exact counts, round 6.

    Output: prev_type, next_type, n, p (row-normalized).
    """
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("prev_type").agg(F.sum("n").alias("row_n"))
    return (
        pairs.join(F.broadcast(totals), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            F.round(F.col("n").cast("double") / F.col("row_n").cast("double"), 6).alias(
                "p"
            ),
        )
        .orderBy("prev_type", "next_type")
    )


_TRANSITION_SQL = """
WITH pairs AS (
  SELECT lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events
), counts AS (
  SELECT prev_type, next_type, count(*)::BIGINT AS n
  FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2
), totals AS (
  SELECT prev_type, sum(n)::BIGINT AS row_n FROM counts GROUP BY 1
)
SELECT c.prev_type, c.next_type, c.n,
       round(c.n::DOUBLE / t.row_n::DOUBLE, 6) AS p
FROM counts c JOIN totals t USING (prev_type)
ORDER BY 1, 2
"""


def open_orders_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval CONCURRENCY by sweep-line — how many orders are OPEN
    (placed, not yet fully shipped) on each day an order state
    changes: the ops-dashboard backbone (backlog, WIP, concurrent
    sessions, hotel occupancy — one pattern). The naive plan explodes
    every interval into its days (rows × avg-duration blowup, ~30×
    here, unbounded for long intervals); the sweep-line emits TWO
    events per interval (+1 at open, −1 after close) and a running
    sum over the ordered event stream — output and shuffle are
    ∝ intervals, never ∝ interval-days.

    Interval: o_orderdate .. max(l_shipdate) per order (orders
    without lineitems never open). The running sum is one global-ish
    window ordered by day — but over the DAY-DELTA aggregate (one
    row per distinct day, two per order worst case), which is the
    small relation by construction; the heavy per-order work stays
    keyed. Output: day, n_open (orders open at end of that day).
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    spans = (
        li.groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("closed"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_orderdate").alias("opened"), "closed")
    )
    deltas = (
        spans.select(F.col("opened").alias("day"), F.lit(1).alias("d"))
        .unionByName(
            spans.select(
                F.date_add(F.col("closed"), 1).alias("day"), F.lit(-1).alias("d")
            )
        )
        .groupBy("day")
        .agg(F.sum("d").alias("delta"))
    )
    from pyspark.sql.window import Window as W

    running = F.sum("delta").over(
        W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        deltas.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            running.cast("long").alias("n_open"),
        )
        .orderBy("day")
    )


_OPEN_ORDERS_SQL = """
WITH spans AS (
  SELECT o.o_orderdate AS opened, mx.closed
  FROM orders o
  JOIN (SELECT l_orderkey, max(l_shipdate) AS closed
        FROM lineitem GROUP BY 1) mx
    ON mx.l_orderkey = o.o_orderkey
), deltas AS (
  SELECT day, sum(d)::BIGINT AS delta FROM (
    SELECT opened AS day, 1 AS d FROM spans
    UNION ALL
    SELECT closed + INTERVAL 1 DAY AS day, -1 AS d FROM spans
  ) GROUP BY 1
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       sum(delta) OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       )::BIGINT AS n_open
FROM deltas
ORDER BY day
"""


SEQ_TOPK = 20


def frequent_event_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining, the length-3 workhorse: the most
    frequent ORDERED event-type triples across user histories —
    one step past ``event_transition_matrix``'s bigrams and the
    cheap end of PrefixSpan (whose full generality a pipeline rarely
    needs for funnel diagnostics: "view>click>purchase vs
    view>click>error" is this query).

    Plan: ONE groupBy(user) shuffle builds each user's ordered
    event-type array (array_sort over (ts, event_id, type) structs —
    total order, engine-independent), 3-grams fan out NARROWLY from
    the array (∝ events, not events³), one count aggregate, top-k
    via orderBy().limit() = TakeOrderedAndProject (per-partition
    heaps, no global sort). Per-user state = that user's own
    sequence, the sessionizer bound.

    Output: triple, n (top SEQ_TOPK, count desc / triple asc).
    """
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    seqs = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda s: s["event_type"],
        ).alias("types")
    )
    triples = seqs.select(
        F.explode(ngrams("types", 3, lambda *t: F.concat_ws(">", *t))).alias(
            "triple"
        )
    )
    return (
        triples.groupBy("triple")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("triple"))
        .limit(SEQ_TOPK)
    )


_TRIPLES_SQL = f"""
WITH seqs AS (
  SELECT user_id, list(event_type ORDER BY ts, event_id) AS types
  FROM events GROUP BY 1
), tri AS (
  SELECT unnest(list_transform(
           generate_series(1, greatest(len(types) - 2, 0)),
           i -> types[i] || '>' || types[i+1] || '>' || types[i+2]
         )) AS triple
  FROM seqs
)
SELECT triple, count(*)::BIGINT AS n
FROM tri GROUP BY 1
ORDER BY n DESC, triple ASC
LIMIT {SEQ_TOPK}
"""


def ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC DOWNSAMPLING — the financial/telemetry bar aggregation:
    per (event_type, day), the first (Open) and last (Close) value
    plus High/Low/volume, in ONE aggregate pass: open/close are
    ``min_by``/``max_by`` over a zero-padded (epoch-micros,
    event_id) string key — a total order, so first/last are
    tie-free on both engines; no window, no sort, map-side
    combinable (min_by/max_by have partial merge).

    At 100 TB this is the canonical "collapse ticks to bars" shape:
    a single hash shuffle on the (series, bucket) key; bar count,
    not tick count, bounds the output.

    Output: event_type, day, open_cents, high_cents, low_cents,
    close_cents, n_events, vol_cents.
    """
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    key = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        ev.select(
            "event_type",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            cents.alias("cents"),
            key.alias("k"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.min_by("cents", "k").alias("open_cents"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.max_by("cents", "k").alias("close_cents"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("vol_cents"),
        )
        .orderBy("event_type", "day")
    )


_OHLC_SQL = """
WITH ev AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         round(value * 100)::BIGINT AS cents,
         lpad(epoch_us(ts)::VARCHAR, 20, '0')
           || lpad(event_id::VARCHAR, 12, '0') AS k
  FROM events
)
SELECT event_type, day,
       min_by(cents, k) AS open_cents,
       max(cents)::BIGINT AS high_cents,
       min(cents)::BIGINT AS low_cents,
       max_by(cents, k) AS close_cents,
       count(*)::BIGINT AS n_events,
       sum(cents)::BIGINT AS vol_cents
FROM ev GROUP BY 1, 2 ORDER BY 1, 2
"""


def latency_log_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HdrHistogram-style LOG2-BUCKETED value distribution per event
    type — the latency-summary layout (exponential buckets: constant
    relative error, ~40 buckets cover ns→hours) every telemetry
    backend stores instead of raw quantiles. floor(log2(cents))
    computed EXACTLY as length(bin(cents)) − 1 — integer bit-length,
    no libm log2 (whose rounding differs across engines).

    Scale: one hash aggregate on a (5 × ~16)-key space, map-side
    combined; bucket bounds are pure expressions of the bucket id.

    Output: event_type, bucket, lo_cents, hi_cents, n_events.
    """
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    bucket = (F.length(F.bin(cents)) - 1).cast("int")
    return (
        ev.select("event_type", cents.alias("cents"), bucket.alias("bucket"))
        .where(F.col("cents") >= 1)
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "event_type",
            "bucket",
            F.expr("CAST(1 AS BIGINT) << bucket").alias("lo_cents"),
            F.expr("(CAST(1 AS BIGINT) << (bucket + 1)) - 1").alias("hi_cents"),
            "n_events",
        )
        .orderBy("event_type", "bucket")
    )


_LOG_HIST_SQL = """
WITH ev AS (
  SELECT event_type, round(value * 100)::BIGINT AS cents FROM events
), b AS (
  SELECT event_type,
         (length(printf('%b', cents)) - 1)::INT AS bucket
  FROM ev WHERE cents >= 1
)
SELECT event_type, bucket,
       (1::BIGINT << bucket)::BIGINT AS lo_cents,
       ((1::BIGINT << (bucket + 1)) - 1)::BIGINT AS hi_cents,
       count(*)::BIGINT AS n_events
FROM b GROUP BY 1, 2 ORDER BY 1, 2
"""


def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM CHANGEPOINT detection on the daily revenue series: the
    day where the cumulative sum of deviations from the corpus mean
    peaks in magnitude — the classic single-changepoint estimator
    (where the level shift happened, not just that one exists).
    Integer-exact: the mean is total DIV n (floor), deviations and
    their running sum are exact longs, and the argmax is a
    TakeOrdered top-1 with (|cusum| desc, day asc) tie-break.

    Scale shape: facts aggregate to DAY GRAIN first (the only
    data-sized shuffle); the running sum + argmax run over
    one-row-per-day. Output: day, cusum_cents, mean_cents, n_days.
    """
    from pyspark.sql.window import Window

    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
        .agg(_day_cents())
    )
    stats = daily.agg(
        F.expr("sum(cents) DIV count(1)").alias("mean_cents"),
        F.count(F.lit(1)).alias("n_days"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cusum = (
        daily.crossJoin(F.broadcast(stats))
        .withColumn("cusum_cents", F.sum(F.col("cents") - F.col("mean_cents")).over(w))
        .select("day", "cusum_cents", "mean_cents", "n_days")
    )
    return cusum.orderBy(
        F.desc(F.abs("cusum_cents")), F.asc("day")
    ).limit(1)


_CUSUM_SQL = """
WITH daily AS (
  SELECT strftime(o_orderdate::DATE, '%Y-%m-%d') AS day,
         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
  FROM orders GROUP BY 1
), stats AS (
  SELECT (sum(cents) // count(*))::BIGINT AS mean_cents,
         count(*)::BIGINT AS n_days
  FROM daily
), cusum AS (
  SELECT day,
         sum(cents - mean_cents) OVER (ORDER BY day)::BIGINT AS cusum_cents,
         mean_cents, n_days
  FROM daily CROSS JOIN stats
)
SELECT day, cusum_cents, mean_cents, n_days
FROM cusum ORDER BY abs(cusum_cents) DESC, day ASC LIMIT 1
"""


HW_SEASON = 12  # months per seasonal cycle
HW_HORIZON = 12  # forecast steps emitted
# α=1/2, β=γ=1/4: binary fractions — every smoothing step is integer
# DIV arithmetic (trunc-division, engine-identical on negatives)


def holt_winters_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT–WINTERS additive triple exponential smoothing (Holt 1957;
    Winters 1960) — the forecasting tier above ``ewma_daily_revenue``
    (level only) and ``theil_sen_trend`` (trend only): per market
    segment, smooth the monthly revenue series into level + trend +
    12-month seasonal state and emit the next HW_HORIZON monthly
    forecasts ŷ_{T+h} = l_T + h·b_T + s_{(T+h−1) mod 12}.

    Exactness: the series is exact cent sums; state lives in integer
    MICRO-cents and every smoothing update is integer DIV arithmetic
    with the binary-fraction coefficients α=1/2, β=γ=1/4
    (l ← (y−s)/2 + (l+b)/2; b ← (l′−l)/4 + 3b/4; s ← (y−l′)/4 +
    3s/4) — no floats anywhere, hash-exact by construction.
    Deterministic init: l₁ = y₁, b₁ = 0, seasonals start at 0 (the
    first cycle learns them).

    Scale shape: ONE hash aggregate collapses the corpus to the
    monthly grain; each segment's series folds to ONE ordered array
    row and the recurrence runs as a single ``aggregate`` fold over
    it — T-bounded sequential work (the irreducible nature of
    exponential smoothing), never a corpus-sized window. Forecast
    expansion is |segments|·HW_HORIZON rows.

    Output: c_mktsegment, n_months, h, forecast_micro, level_micro,
    trend_micro.
    """
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mx"),
    )
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    monthly = (
        orders.join(F.broadcast(cust), "o_custkey")
        .groupBy("c_mktsegment", "mx")
        .agg(F.sum("cents").alias("y"))
    )
    series = monthly.groupBy("c_mktsegment").agg(
        F.array_sort(F.collect_list(F.struct("mx", "y"))).alias("ser")
    )
    fold = F.expr(
        f"""
aggregate(
  ser,
  named_struct('t', CAST(0 AS BIGINT), 'l', CAST(0 AS BIGINT),
               'b', CAST(0 AS BIGINT),
               's', transform(sequence(1, {HW_SEASON}),
                              x -> CAST(0 AS BIGINT))),
  (acc, p) -> transform(array(named_struct(
      'y', p.y * 1000000,
      'sm', element_at(acc.s, CAST(pmod(acc.t, {HW_SEASON}) + 1 AS INT)),
      'lnew', CASE WHEN acc.t = 0 THEN p.y * 1000000
        ELSE (p.y * 1000000
              - element_at(acc.s, CAST(pmod(acc.t, {HW_SEASON}) + 1 AS INT)))
             DIV 2 + (acc.l + acc.b) DIV 2 END)),
    v -> named_struct(
      't', acc.t + 1,
      'l', v.lnew,
      'b', CASE WHEN acc.t = 0 THEN CAST(0 AS BIGINT)
           ELSE (v.lnew - acc.l) DIV 4 + (3 * acc.b) DIV 4 END,
      's', transform(acc.s, (sv, i) ->
        CASE WHEN i = CAST(pmod(acc.t, {HW_SEASON}) AS INT)
             THEN (v.y - v.lnew) DIV 4 + (3 * v.sm) DIV 4
             ELSE sv END)))[0]
)
"""
    )
    state = series.select("c_mktsegment", fold.alias("st"))
    hs = spark.range(1, HW_HORIZON + 1).select(
        F.col("id").alias("h")
    )
    return (
        state.crossJoin(F.broadcast(hs))
        .select(
            "c_mktsegment",
            F.col("st.t").alias("n_months"),
            "h",
            (
                F.col("st.l")
                + F.col("h") * F.col("st.b")
                + F.expr(
                    f"element_at(st.s, CAST(pmod(st.t + h - 1, {HW_SEASON})"
                    " + 1 AS INT))"
                )
            ).alias("forecast_micro"),
            F.col("st.l").alias("level_micro"),
            F.col("st.b").alias("trend_micro"),
        )
        .orderBy("c_mktsegment", "h")
    )


_HW_SQL = f"""
WITH RECURSIVE monthly AS MATERIALIZED (
  SELECT c.c_mktsegment AS seg,
         (year(o.o_orderdate) * 12 + month(o.o_orderdate))::BIGINT AS mx,
         sum(round(o.o_totalprice * 100)::BIGINT)::BIGINT AS y
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
), ordered AS MATERIALIZED (
  SELECT seg, y,
         row_number() OVER (PARTITION BY seg ORDER BY mx)::BIGINT AS t
  FROM monthly
), segs AS MATERIALIZED (
  SELECT seg, count(*)::BIGINT AS tn FROM ordered GROUP BY 1
), rec AS (
  SELECT seg, 0::BIGINT AS t, 0::BIGINT AS l, 0::BIGINT AS b,
         list_transform(generate_series(1, {HW_SEASON}),
                        x -> 0::BIGINT) AS s
  FROM segs
  UNION ALL
  SELECT seg, t1, lnew,
         CASE WHEN t = 0 THEN 0::BIGINT
              ELSE ((lnew - l) // 4 + (3 * b) // 4)::BIGINT END,
         list_transform(s, (sv, i) ->
           CASE WHEN i = (t % {HW_SEASON} + 1)
                THEN ((ym - lnew) // 4 + (3 * sm) // 4)::BIGINT
                ELSE sv END)
  FROM (
    SELECT r.seg, r.t, r.l, r.b, r.s, r.t + 1 AS t1,
           o.y * 1000000 AS ym,
           r.s[(r.t % {HW_SEASON} + 1)::INT] AS sm,
           CASE WHEN r.t = 0 THEN o.y * 1000000
                ELSE ((o.y * 1000000 - r.s[(r.t % {HW_SEASON} + 1)::INT]) // 2
                      + (r.l + r.b) // 2) END::BIGINT AS lnew
    FROM rec r JOIN ordered o ON o.seg = r.seg AND o.t = r.t + 1
  )
), final AS (
  SELECT r.seg, r.t, r.l, r.b, r.s
  FROM rec r JOIN segs ON segs.seg = r.seg AND r.t = segs.tn
)
SELECT f.seg AS c_mktsegment, f.t AS n_months, h.h::BIGINT AS h,
       (f.l + h.h * f.b
        + f.s[((f.t + h.h - 1) % {HW_SEASON} + 1)::INT])::BIGINT
         AS forecast_micro,
       f.l AS level_micro, f.b AS trend_micro
FROM final f CROSS JOIN generate_series(1, {HW_HORIZON}) AS h(h)
ORDER BY 1, 3
"""


# ---------------------------------------------------------------------------
# seasonal_decompose
# ---------------------------------------------------------------------------

SD_SEASON = 12  # months per cycle; the centered MA spans 13 months


def seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSICAL additive seasonal DECOMPOSITION (the moving-average
    method behind statsmodels' seasonal_decompose / X-11's first
    pass) of each segment's monthly revenue: y = trend + seasonal +
    residual — the DIAGNOSTIC view beside ``holt_winters_forecast``'s
    recursive state (HW predicts; this explains which part of a
    month's revenue is trend vs calendar).

    Semantics: trend = 2×12 centered moving average (half weights on
    the ±6 endpoints), defined only where the full 13-month window
    exists; seasonal = per month-of-year mean of the detrended
    series, centered to sum≈0 across the 12 indices; residual = the
    remainder.

    Exactness: all integer micro-cents — the weighted MA numerator
    is an exact DECIMAL/HUGEINT sum (weights 500000/1000000) with
    ONE trunc-DIV by 12; seasonal means and the centering adjustment
    are trunc-DIVs (negative detrended values rely on the verified
    Spark DIV ≡ DuckDB // truncation parity); residual is integer
    subtraction. No floats.

    Scale shape: ONE hash aggregate collapses the corpus to the
    monthly grain (|segments|·|months| rows, time-domain-bounded);
    the 13-month window is a bounded self-join ON that relation
    (gap-safe: a missing month yields NULL trend, not a silently
    shifted window — the rows-window shortcut would misalign);
    seasonal/adjustment aggregates touch only month-grain rows.

    Output: c_mktsegment, mx, y_cents, trend_micro, seasonal_micro,
    residual_micro.
    """
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mx"),
    )
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    monthly = (
        orders.join(F.broadcast(cust), "o_custkey")
        .groupBy("c_mktsegment", "mx")
        .agg(F.sum("cents").alias("y"))
    )
    b = monthly.select(
        F.col("c_mktsegment").alias("seg_b"),
        F.col("mx").alias("bmx"),
        F.col("y").alias("yb"),
    )
    half = SD_SEASON // 2
    win = monthly.join(
        F.broadcast(b),
        (F.col("c_mktsegment") == F.col("seg_b"))
        & (F.col("bmx") >= F.col("mx") - half)
        & (F.col("bmx") <= F.col("mx") + half),
    )
    trend = win.groupBy("c_mktsegment", "mx", "y").agg(
        F.count(F.lit(1)).alias("n_win"),
        F.sum(
            F.expr(
                f"CAST(yb AS decimal(38,0)) * CASE WHEN abs(bmx - mx) ="
                f" {half} THEN 500000 ELSE 1000000 END"
            )
        ).alias("tn"),
    ).select(
        "c_mktsegment",
        "mx",
        "y",
        F.expr(
            f"CASE WHEN n_win = {SD_SEASON + 1} THEN"
            f" CAST(tn DIV {SD_SEASON} AS BIGINT) END"
        ).alias("trend_micro"),
    )
    det = trend.withColumn(
        "d",
        F.expr("CASE WHEN trend_micro IS NOT NULL THEN"
               " y * 1000000 - trend_micro END"),
    ).withColumn("moy", F.expr(f"mx % {SD_SEASON}"))
    sr = (
        det.where(F.col("d").isNotNull())
        .groupBy("c_mktsegment", "moy")
        .agg(F.expr("CAST(sum(d) DIV count(*) AS BIGINT)").alias("s_raw"))
    )
    adj = sr.groupBy("c_mktsegment").agg(
        F.expr("CAST(sum(s_raw) DIV count(*) AS BIGINT)").alias("s_adj")
    )
    seas = sr.join(F.broadcast(adj), "c_mktsegment").select(
        "c_mktsegment",
        "moy",
        (F.col("s_raw") - F.col("s_adj")).alias("seasonal_micro"),
    )
    return (
        det.join(F.broadcast(seas), ["c_mktsegment", "moy"], "left")
        .select(
            "c_mktsegment",
            "mx",
            F.col("y").alias("y_cents"),
            "trend_micro",
            "seasonal_micro",
            F.expr(
                "CASE WHEN d IS NOT NULL AND seasonal_micro IS NOT NULL"
                " THEN d - seasonal_micro END"
            ).alias("residual_micro"),
        )
        .orderBy("c_mktsegment", "mx")
    )


_SEASONAL_SQL = f"""
WITH monthly AS (
  SELECT c_mktsegment,
         (year(o_orderdate) * 12 + month(o_orderdate))::BIGINT AS mx,
         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
), trend AS (
  SELECT a.c_mktsegment, a.mx, a.y,
         CASE WHEN count(*) = {SD_SEASON + 1} THEN
           CAST(sum(b.y::HUGEINT *
                    CASE WHEN abs(b.mx - a.mx) = {SD_SEASON // 2}
                         THEN 500000 ELSE 1000000 END)
                // {SD_SEASON} AS BIGINT) END AS trend_micro
  FROM monthly a JOIN monthly b
    ON a.c_mktsegment = b.c_mktsegment
   AND b.mx BETWEEN a.mx - {SD_SEASON // 2} AND a.mx + {SD_SEASON // 2}
  GROUP BY 1, 2, 3
), det AS (
  SELECT *,
         CASE WHEN trend_micro IS NOT NULL
              THEN y * 1000000 - trend_micro END AS d,
         mx % {SD_SEASON} AS moy
  FROM trend
), sr AS (
  SELECT c_mktsegment, moy,
         CAST(sum(d) // count(*) AS BIGINT) AS s_raw
  FROM det WHERE d IS NOT NULL GROUP BY 1, 2
), adj AS (
  SELECT c_mktsegment, CAST(sum(s_raw) // count(*) AS BIGINT) AS s_adj
  FROM sr GROUP BY 1
), seas AS (
  SELECT sr.c_mktsegment, sr.moy, (sr.s_raw - adj.s_adj)::BIGINT
         AS seasonal_micro
  FROM sr JOIN adj USING (c_mktsegment)
)
SELECT det.c_mktsegment, det.mx, det.y AS y_cents, det.trend_micro,
       seas.seasonal_micro,
       CASE WHEN det.d IS NOT NULL AND seas.seasonal_micro IS NOT NULL
            THEN det.d - seas.seasonal_micro END AS residual_micro
FROM det LEFT JOIN seas
  ON det.c_mktsegment = seas.c_mktsegment AND det.moy = seas.moy
ORDER BY 1, 2
"""


ACF_MAX_LAG = 12  # one seasonal cycle of monthly lags


def autocorrelation_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample AUTOCORRELATION function (ACF, lags 1..12) of total
    monthly revenue — the diagnostic that tells the forecasting tier
    (``holt_winters_forecast``, ``seasonal_decompose``) whether a
    seasonal cycle is actually present (a lag-12 spike) and how fast
    momentum decays (lag-1..3 mass): r_L = Σ_{t≤T−L}(y_t−ȳ)(y_{t+L}−ȳ)
    / Σ(y_t−ȳ)².

    Exactness: multiplied through by T², both sides are exact
    integers — num·T² = Σ (T·y_t − S)(T·y_{t+L} − S), den·T² =
    Σ (T·y_t − S)² with S = Σy (DECIMAL/HUGEINT widened; the
    deviations are longs but their products overflow int64) — so
    r_L is ONE IEEE division per lag, floor-quantized micro. The ȳ
    subtraction never happens in floats.

    Scale shape: ONE hash aggregate collapses the corpus to the
    T-month series; the lag pairs come from a bounded self-join
    (T·12 rows) with the 1-row (T, S) moments broadcast — the
    theil_sen monthly-grain contract.

    Output: lag, n_pairs, acf_micro (ordered by lag).
    """
    orders = table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mx"),
    )
    monthly = orders.groupBy("mx").agg(F.sum("cents").alias("y"))
    glob = monthly.agg(
        F.count(F.lit(1)).alias("t_n"),
        F.sum(F.expr("CAST(y AS decimal(38,0))")).alias("s"),
    )
    m = monthly.crossJoin(F.broadcast(glob))
    den = m.agg(
        F.sum(
            F.expr(
                "CAST(t_n AS decimal(38,0)) * y - s"
            ).cast("decimal(38,0)")
            * F.expr("CAST(t_n AS decimal(38,0)) * y - s").cast(
                "decimal(38,0)"
            )
        ).alias("den")
    )
    b = monthly.select(F.col("mx").alias("bmx"), F.col("y").alias("yb"))
    pairs = m.join(
        F.broadcast(b),
        (F.col("bmx") > F.col("mx"))
        & (F.col("bmx") <= F.col("mx") + ACF_MAX_LAG),
    )
    num = pairs.groupBy((F.col("bmx") - F.col("mx")).alias("lag")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.expr("CAST(t_n AS decimal(38,0)) * y - s").cast(
                "decimal(38,0)"
            )
            * F.expr("CAST(t_n AS decimal(38,0)) * yb - s").cast(
                "decimal(38,0)"
            )
        ).alias("num"),
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("long").alias("lag"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.expr(
                "CASE WHEN den <> 0 THEN CAST(floor(CAST(num AS DOUBLE)"
                " / CAST(den AS DOUBLE) * 1000000.0) AS BIGINT) END"
            ).alias("acf_micro"),
        )
        .orderBy("lag")
    )


_ACF_SQL = f"""
WITH monthly AS (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate))::BIGINT AS mx,
         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS y
  FROM orders GROUP BY 1
), gl AS (
  SELECT count(*)::BIGINT AS t_n, sum(y::HUGEINT) AS s FROM monthly
), den AS (
  SELECT sum((gl.t_n * y::HUGEINT - gl.s) * (gl.t_n * y::HUGEINT - gl.s))
         AS den
  FROM monthly CROSS JOIN gl
), num AS (
  SELECT (b.mx - a.mx)::BIGINT AS lag, count(*)::BIGINT AS n_pairs,
         sum((gl.t_n * a.y::HUGEINT - gl.s)
             * (gl.t_n * b.y::HUGEINT - gl.s)) AS num
  FROM monthly a CROSS JOIN gl
  JOIN monthly b ON b.mx > a.mx AND b.mx <= a.mx + {ACF_MAX_LAG}
  GROUP BY 1
)
SELECT lag, n_pairs,
       CASE WHEN den.den <> 0 THEN
         CAST(floor(CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE)
                    * 1000000.0) AS BIGINT) END AS acf_micro
FROM num CROSS JOIN den
ORDER BY lag
"""


# ---------------------------------------------------------------------------
# kaplan_meier_shipping
# ---------------------------------------------------------------------------

KM_WEEK = 7  # duration grid: weeks (bounds the fold at ~360 steps)


def kaplan_meier_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN–MEIER survival estimator (Kaplan & Meier 1958) of
    order→first-ship latency WITH CENSORING — the estimator
    ``order_to_ship_sla``'s fixed-threshold rates can't replace when
    observation windows are incomplete: orders placed near the
    dataset horizon haven't had time to ship (their first ship lands
    PAST the last order date), and dropping them biases the curve
    fast — KM keeps them in the risk set until their censor time.

    Semantics: per order, T = days(first ship − order date) (negative
    synthetic-noise durations excluded, documented); observation
    window W = days(horizon − order date) with horizon = max order
    date; event at week T/7 if T ≤ W else censored at week W/7.
    Ŝ steps only at event weeks: Ŝ ← Ŝ·(n−d)/n over ascending weeks.

    Exactness: d/c/n_risk are exact longs (descending cumulative
    window over the WEEK-grid relation); the survival recurrence is
    integer micro state — s ← (s·(n−d)) DIV n — and each output row
    RE-RUNS the quantized recurrence from week 0 via a prefix fold
    (O(k²/2) integer ops, k ≤ ~360 weeks — TIME-domain-bounded, never
    corpus-bounded), so both engines produce identical micro values
    without a float product or libm log anywhere. The oracle mirrors
    with the same prefix folds via list_reduce.

    Scale shape: one lineitem aggregate (first ship per order), one
    broadcast horizon row, one week-grid aggregate, a window over the
    ≤360-row grid, ONE collected-array row for the folds. The corpus
    is touched twice (lineitem agg, orders join).

    Output: week, n_risk, d_events, c_censored, surv_micro.
    """
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    ship = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.min("l_shipdate").alias("ship"))
    )
    horizon = orders.agg(F.max("o_orderdate").alias("h"))
    j = (
        orders.join(ship, orders.o_orderkey == ship.l_orderkey)
        .crossJoin(F.broadcast(horizon))
        .select(
            F.datediff("ship", "o_orderdate").alias("t"),
            F.datediff("h", "o_orderdate").alias("w"),
        )
        .where(F.col("t") >= 0)
        .select(
            F.expr(
                f"CASE WHEN t <= w THEN t ELSE w END DIV {KM_WEEK}"
            ).alias("week"),
            F.expr("CAST(t <= w AS LONG)").alias("ev"),
        )
    )
    grid = j.groupBy("week").agg(
        F.sum("ev").alias("d"),
        F.sum(1 - F.col("ev")).alias("c"),
    )
    from pyspark.sql.window import Window

    wdesc = Window.orderBy(F.col("week").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = grid.withColumn(
        "n_risk", F.sum(F.col("d") + F.col("c")).over(wdesc)
    )
    ev = risk.where(F.col("d") > 0)
    ser = ev.agg(
        F.array_sort(
            F.collect_list(F.struct("week", "n_risk", "d", "c"))
        ).alias("ser")
    )
    # prefix folds: surv at index i re-runs the integer recurrence
    # over steps 1..i (k ≤ ~360 → ≤ k²/2 integer ops, domain-bounded)
    folded = ser.select(
        F.explode(
            # guard: sequence(1, 0) descends to [1, 0] (default step
            # -1), which would emit two bogus NULL-week rows on an
            # empty event series while the oracle's generate_series(1,
            # 0) is empty (r10 ADVICE). Empty-array branch matches.
            F.expr(
                "transform(if(size(ser) > 0, sequence(1, size(ser)), "
                "cast(array() as array<int>)), i -> named_struct("
                "'week', ser[i - 1].week,"
                "'n_risk', ser[i - 1].n_risk,"
                "'d_events', ser[i - 1].d,"
                "'c_censored', ser[i - 1].c,"
                "'surv_micro', aggregate(slice(ser, 1, i),"
                " CAST(1000000 AS BIGINT),"
                " (s, p) -> (s * (p.n_risk - p.d)) DIV p.n_risk)))"
            )
        ).alias("r")
    )
    return folded.select("r.*").orderBy("week")


_KM_SQL = f"""
WITH fs AS (
  SELECT l_orderkey, min(l_shipdate) AS ship FROM lineitem GROUP BY 1
), hz AS (SELECT max(o_orderdate) AS h FROM orders),
j AS (
  SELECT date_diff('day', o_orderdate, ship) AS t,
         date_diff('day', o_orderdate, hz.h) AS w
  FROM orders JOIN fs ON o_orderkey = l_orderkey CROSS JOIN hz
  WHERE date_diff('day', o_orderdate, ship) >= 0
), pts AS (
  SELECT (CASE WHEN t <= w THEN t ELSE w END // {KM_WEEK})::BIGINT AS week,
         (t <= w)::BIGINT AS ev
  FROM j
), grid AS (
  SELECT week, sum(ev)::BIGINT AS d, sum(1 - ev)::BIGINT AS c
  FROM pts GROUP BY 1
), risk AS (
  SELECT week, d, c,
         sum(d + c) OVER (ORDER BY week DESC)::BIGINT AS n_risk
  FROM grid
), ser AS (
  -- four parallel week-ascending lists; each fold step packs
  -- (n_risk, d) into one BIGINT so list_reduce's accumulator and
  -- element types match (n·2^32 + d; n, d ≪ 2^32 here)
  SELECT list(week ORDER BY week) AS wk,
         list(n_risk ORDER BY week) AS nr,
         list(d ORDER BY week) AS dd,
         list(c ORDER BY week) AS cc
  FROM risk WHERE d > 0
), folded AS (
  SELECT unnest(generate_series(1, len(wk))) AS i, wk, nr, dd, cc
  FROM ser
)
SELECT wk[i]::BIGINT AS week, nr[i]::BIGINT AS n_risk,
       dd[i]::BIGINT AS d_events, cc[i]::BIGINT AS c_censored,
       list_reduce(
         list_prepend(1000000::BIGINT,
           list_transform(generate_series(1, i),
                          k -> nr[k]::BIGINT * 4294967296 + dd[k])),
         (s, e) -> (s * ((e // 4294967296) - (e % 4294967296)))
                   // (e // 4294967296))::BIGINT AS surv_micro
FROM folded ORDER BY week
"""


LR_SEG_A = "BUILDING"
LR_SEG_B = "MACHINERY"
LR_CRIT_MICRO = 1_959_963  # |z| two-sided alpha=0.05 (dof-1 chi2 = z^2)


def log_rank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG-RANK TEST (Mantel 1966) — do BUILDING and MACHINERY orders
    ship on DIFFERENT survival curves? The hypothesis-test companion
    to ``kaplan_meier_shipping``: at every event week the observed
    group-A deaths are compared against the expectation under H₀
    (deaths split proportionally to the at-risk sets), censoring
    handled exactly as KM does.

    Exactness: per-week (n₁, n₂, d₁, d₂) are exact longs; the
    per-week expectation d·n₁/n and variance
    d·n₁·n₂·(n−d) / (n²·(n−1)) are rational — each floor-quantizes
    to 1e-6 units via ONE widened integer DIV before the sums (the
    quality_score combine-order rule), and z folds once through
    (O−E)/√V. Verdict vs 1.96.

    Scale shape: the KM pipeline with a group dimension — two corpus
    aggregates, a week×group grid, windows over the bounded grid,
    one 1-row reduce. Never a row-grain sort.

    Output: n_weeks, o1, e1_micro, v_micro, z_micro, reject_05.
    """
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    ship = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.min("l_shipdate").alias("ship"))
    )
    horizon = orders.agg(F.max("o_orderdate").alias("h"))
    j = (
        orders.join(F.broadcast(cust), "o_custkey")
        .where(F.col("c_mktsegment").isin(LR_SEG_A, LR_SEG_B))
        .join(ship, orders.o_orderkey == ship.l_orderkey)
        .crossJoin(F.broadcast(horizon))
        .select(
            (F.col("c_mktsegment") == LR_SEG_A).alias("is_a"),
            F.datediff("ship", "o_orderdate").alias("t"),
            F.datediff("h", "o_orderdate").alias("w"),
        )
        .where(F.col("t") >= 0)
        .select(
            "is_a",
            F.expr(
                f"CASE WHEN t <= w THEN t ELSE w END DIV {KM_WEEK}"
            ).alias("week"),
            F.expr("CAST(t <= w AS LONG)").alias("ev"),
        )
    )
    grid = j.groupBy("week").agg(
        F.sum(F.expr("CASE WHEN is_a THEN ev ELSE 0 END")).alias("d1"),
        F.sum(F.expr("CASE WHEN is_a THEN 0 ELSE ev END")).alias("d2"),
        F.sum(F.expr("CASE WHEN is_a THEN 1 ELSE 0 END")).alias("a1"),
        F.sum(F.expr("CASE WHEN is_a THEN 0 ELSE 1 END")).alias("a2"),
    )
    from pyspark.sql.window import Window

    wdesc = Window.orderBy(F.col("week").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = grid.select(
        "week",
        "d1",
        "d2",
        F.sum("a1").over(wdesc).alias("n1"),
        F.sum("a2").over(wdesc).alias("n2"),
    ).where(F.col("d1") + F.col("d2") > 0)
    # per-week E and V quantized to micro via ONE widened DIV each
    e1 = (
        "CAST((CAST(d1 + d2 AS decimal(38,0)) * n1 * 1000000)"
        " DIV (n1 + n2) AS BIGINT)"
    )
    v = (
        "CASE WHEN n1 + n2 > 1 THEN"
        " CAST((CAST(d1 + d2 AS decimal(38,0)) * n1 * n2"
        " * (n1 + n2 - d1 - d2) * 1000000)"
        " DIV (CAST(n1 + n2 AS decimal(38,0)) * (n1 + n2)"
        " * (n1 + n2 - 1)) AS BIGINT) ELSE 0 END"
    )
    agg = risk.agg(
        F.count(F.lit(1)).alias("n_weeks"),
        F.sum("d1").alias("o1"),
        F.sum(F.expr(e1)).alias("e1_micro"),
        F.sum(F.expr(v)).alias("v_micro"),
    )
    z = (
        "(CAST(o1 * 1000000 - e1_micro AS DOUBLE)"
        " / sqrt(CAST(v_micro AS DOUBLE) * 1000000.0))"
    )
    return agg.select(
        F.col("n_weeks").cast("long").alias("n_weeks"),
        F.col("o1").cast("long").alias("o1"),
        "e1_micro",
        "v_micro",
        F.expr(
            "CASE WHEN v_micro > 0 THEN"
            f" CAST(floor({z} * 1000000.0) AS BIGINT) END"
        ).alias("z_micro"),
        F.expr(
            "CASE WHEN v_micro > 0 THEN"
            f" CAST(abs(CAST(floor({z} * 1000000.0) AS BIGINT))"
            f" > {LR_CRIT_MICRO} AS INT) END"
        ).alias("reject_05"),
    )


_LOG_RANK_SQL = f"""
WITH fs AS (
  SELECT l_orderkey, min(l_shipdate) AS ship FROM lineitem GROUP BY 1
), hz AS (SELECT max(o_orderdate) AS h FROM orders),
j AS (
  SELECT (c_mktsegment = '{LR_SEG_A}') AS is_a,
         date_diff('day', o_orderdate, ship) AS t,
         date_diff('day', o_orderdate, hz.h) AS w
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN fs ON o_orderkey = l_orderkey
  CROSS JOIN hz
  WHERE c_mktsegment IN ('{LR_SEG_A}', '{LR_SEG_B}')
    AND date_diff('day', o_orderdate, ship) >= 0
), pts AS (
  SELECT is_a,
         (CASE WHEN t <= w THEN t ELSE w END // {KM_WEEK})::BIGINT AS week,
         (t <= w)::BIGINT AS ev
  FROM j
), grid AS (
  SELECT week,
         sum(CASE WHEN is_a THEN ev ELSE 0 END)::BIGINT AS d1,
         sum(CASE WHEN is_a THEN 0 ELSE ev END)::BIGINT AS d2,
         sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS a1,
         sum(CASE WHEN is_a THEN 0 ELSE 1 END)::BIGINT AS a2
  FROM pts GROUP BY 1
), risk AS (
  SELECT week, d1, d2,
         sum(a1) OVER (ORDER BY week DESC)::BIGINT AS n1,
         sum(a2) OVER (ORDER BY week DESC)::BIGINT AS n2
  FROM grid
), ev AS (
  SELECT *,
         CAST(((d1 + d2)::HUGEINT * n1 * 1000000) // (n1 + n2) AS BIGINT)
           AS e1_q,
         CASE WHEN n1 + n2 > 1 THEN
           CAST(((d1 + d2)::HUGEINT * n1 * n2 * (n1 + n2 - d1 - d2)
                 * 1000000)
                // ((n1 + n2)::HUGEINT * (n1 + n2) * (n1 + n2 - 1))
                AS BIGINT) ELSE 0 END AS v_q
  FROM risk WHERE d1 + d2 > 0
), agg AS (
  SELECT count(*)::BIGINT AS n_weeks, sum(d1)::BIGINT AS o1,
         sum(e1_q)::BIGINT AS e1_micro, sum(v_q)::BIGINT AS v_micro
  FROM ev
)
SELECT n_weeks, o1, e1_micro, v_micro,
       CASE WHEN v_micro > 0 THEN
         CAST(floor((CAST(o1 * 1000000 - e1_micro AS DOUBLE)
                     / sqrt(CAST(v_micro AS DOUBLE) * 1000000.0))
                    * 1000000.0) AS BIGINT) END AS z_micro,
       CASE WHEN v_micro > 0 THEN
         CAST(abs(CAST(floor((CAST(o1 * 1000000 - e1_micro AS DOUBLE)
                       / sqrt(CAST(v_micro AS DOUBLE) * 1000000.0))
                      * 1000000.0) AS BIGINT)) > {LR_CRIT_MICRO} AS INT)
         END AS reject_05
FROM agg
"""


QUERIES = {
    "seasonal_decompose": seasonal_decompose,
    "autocorrelation_monthly": autocorrelation_monthly,
    "kaplan_meier_shipping": kaplan_meier_shipping,
    "log_rank_test": log_rank_test,
    "holt_winters_forecast": holt_winters_forecast,
    "ohlc_bars": ohlc_bars,
    "latency_log_histogram": latency_log_histogram,
    "cusum_changepoint": cusum_changepoint,
    "frequent_event_triples": frequent_event_triples,
    "open_orders_timeline": open_orders_timeline,
    "event_transition_matrix": event_transition_matrix,
    "revenue_anomaly_days": revenue_anomaly_days,
    "time_weighted_average": time_weighted_average,
    "weekday_seasonality": weekday_seasonality,
    "cumulative_new_users": cumulative_new_users,
    "error_rate_hourly": error_rate_hourly,
    "funnel_time_to_convert": funnel_time_to_convert,
    "sliding_distinct_hll": sliding_distinct_hll,
    "event_pattern_match": event_pattern_match,
    "sliding_distinct_users": sliding_distinct_users,
    "iso_week_rollup": iso_week_rollup,
}

ORACLES = {
    "seasonal_decompose": _SEASONAL_SQL,
    "autocorrelation_monthly": _ACF_SQL,
    "kaplan_meier_shipping": _KM_SQL,
    "log_rank_test": _LOG_RANK_SQL,
    "holt_winters_forecast": _HW_SQL,
    "ohlc_bars": _OHLC_SQL,
    "latency_log_histogram": _LOG_HIST_SQL,
    "cusum_changepoint": _CUSUM_SQL,
    "frequent_event_triples": _TRIPLES_SQL,
    "open_orders_timeline": _OPEN_ORDERS_SQL,
    "event_transition_matrix": _TRANSITION_SQL,
    "revenue_anomaly_days": _ANOMALY_SQL,
    "time_weighted_average": _TWAP_SQL,
    "weekday_seasonality": _WEEKDAY_SQL,
    "cumulative_new_users": _CUM_USERS_SQL,
    "error_rate_hourly": _ERROR_RATE_SQL,
    "funnel_time_to_convert": _TTC_SQL,
    "event_pattern_match": _cep_sql(),
    "sliding_distinct_users": _SLIDING_DISTINCT_SQL,
    "iso_week_rollup": _ISO_WEEK_SQL,
}
