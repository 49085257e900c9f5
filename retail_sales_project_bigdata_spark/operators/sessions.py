"""Sessionization over the ``events`` table (north-star batch op).

The classic gap-based sessionizer expressed with window functions only
(lag → gap flag → cumulative sum = session id), per the standard Spark
pattern.  Fully oracle-checkable — DuckDB runs the identical window
expressions.

Timestamp discipline: events carry nanosecond-precision timestamps (parquet
INT64 TIMESTAMP(NANOS)); all ordering and gap arithmetic runs on the exact
int64 microsecond value (``ts_us`` in Spark, ``epoch_us(ts)`` in DuckDB; µs
because DuckDB's parquet reader truncates nano-timestamps to µs) so both
engines compare identical integers — no float seconds, no sub-second
truncation mismatches.

Scale: one shuffle (partition by user_id, order by ts) shared by all
window functions; the rollup reuses the same partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from retail_sales_project_bigdata_spark.functions import (
    oracle_sum,
    pround,
    pround_py,
    stable_sum,
)
from retail_sales_project_bigdata_spark.sources import read_events

SESSION_GAP_MINUTES = 30
_GAP_US = SESSION_GAP_MINUTES * 60 * 1_000_000


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign session ids: a new session starts when the gap since the
    user's previous event exceeds 30 minutes."""
    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        ev.withColumn("gap_us", F.col("ts_us") - F.lag("ts_us").over(w))
        .withColumn(
            "is_new_session",
            F.when(
                F.col("gap_us").isNull() | (F.col("gap_us") > _GAP_US), 1
            ).otherwise(0),
        )
        .withColumn(
            "session_seq",
            F.sum("is_new_session").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .select(
            "event_id",
            "user_id",
            "ts_us",
            "event_type",
            "value",
            F.coalesce("gap_us", F.lit(-1)).alias("gap_us"),
            "is_new_session",
            "session_seq",
        )
    )


_SESSION_CTE = f"""
g AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
f AS (
  SELECT *,
         CASE WHEN gap_us IS NULL OR gap_us > {_GAP_US}
              THEN 1 ELSE 0 END AS is_new_session
  FROM g
),
s AS (
  SELECT *,
         CAST(SUM(is_new_session) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM f
)"""

SESSIONIZE_SQL = f"""
WITH {_SESSION_CTE}
SELECT event_id, user_id, ts_us, event_type, value,
       COALESCE(gap_us, -1) AS gap_us,
       is_new_session, session_seq
FROM s
"""


def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session rollup: span, event count, total value."""
    s = sessionize(spark, sf_dir)
    return s.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.floor((F.max("ts_us") - F.min("ts_us")) / F.lit(1_000_000)).alias(
            "span_sec"
        ),
        stable_sum("value").alias("total_value"),
        F.countDistinct("event_type").alias("n_event_types"),
    )


SESSION_STATS_SQL = f"""
WITH {_SESSION_CTE}
SELECT user_id, session_seq,
       COUNT(*) AS n_events,
       CAST(FLOOR((MAX(ts_us) - MIN(ts_us)) / 1000000) AS BIGINT) AS span_sec,
       {oracle_sum('value')} AS total_value,
       COUNT(DISTINCT event_type) AS n_event_types
FROM s GROUP BY user_id, session_seq
"""


def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` aggregation (Spark's built-in dynamic-gap
    session operator) — same 30-minute gap rule as :func:`sessionize`, but
    expressed as a single groupBy instead of three window functions, which
    is the form that also runs INSIDE Structured Streaming (see
    ``streaming/``): state merges adjacent windows per key as events
    arrive.

    Boundary note: ``session_window`` starts a NEW session when the gap is
    **>=** the duration (an event at exactly ``end`` does not extend),
    while :func:`sessionize` keeps gap == 30 min in-session (``>``); the
    oracle mirrors the ``>=`` rule.  Window end = last event + gap.
    """
    ev = read_events(spark, sf_dir)
    agg = ev.groupBy(
        "user_id",
        F.session_window("ts", f"{SESSION_GAP_MINUTES} minutes").alias("sw"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        stable_sum("value").alias("total_value"),
    )
    return agg.select(
        "user_id",
        F.unix_micros("sw.start").alias("start_us"),
        F.unix_micros("sw.end").alias("end_us"),
        "n_events",
        "total_value",
    )


SESSION_WINDOW_STATS_SQL = f"""
WITH g AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
  FROM events
),
f AS (
  SELECT *, CASE WHEN gap_us IS NULL OR gap_us >= {_GAP_US}
                 THEN 1 ELSE 0 END AS is_new
  FROM g
),
s AS (
  SELECT *, SUM(is_new) OVER (
      PARTITION BY user_id ORDER BY ts_us, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
  FROM f
)
SELECT user_id,
       MIN(ts_us) AS start_us,
       MAX(ts_us) + {_GAP_US} AS end_us,
       COUNT(*) AS n_events,
       {oracle_sum('value')} AS total_value
FROM s GROUP BY user_id, seq
"""


def user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag/lead + running aggregates — the window-function surface
    beyond the reference's single row_number (SURVEY §2.5 notes the gap)."""
    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.row_number().over(w).alias("event_seq"),
        F.coalesce(F.lag("value").over(w), F.lit(0.0)).alias("prev_value"),
        F.coalesce(F.lead("value").over(w), F.lit(0.0)).alias("next_value"),
        pround(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4
        ).alias("running_value"),
        pround(
            pround(F.sum("value").over(w.rowsBetween(-2, 0)), 4)
            / F.count("value").over(w.rowsBetween(-2, 0)),
            6,
        ).alias("moving_avg_3"),
    )


USER_ACTIVITY_SQL = """
WITH w_ord AS (SELECT *, epoch_us(ts) AS ts_us FROM events)
SELECT event_id, user_id, event_type, value,
       CAST(ROW_NUMBER() OVER w AS INT) AS event_seq,
       COALESCE(LAG(value) OVER w, 0.0) AS prev_value,
       COALESCE(LEAD(value) OVER w, 0.0) AS next_value,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value,
       ROUND(ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
             / COUNT(value) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg_3
FROM w_ord
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
"""


def event_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON/map function surface (SURVEY §2.8 notes the reference has
    none — north-star addition): parse the ``props`` JSON column with
    ``from_json`` and aggregate an extracted field."""
    ev = read_events(spark, sf_dir)
    parsed = ev.withColumn(
        "props_k",
        F.from_json(F.col("props"), "k INT").getField("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("props_k").alias("n_with_k"),
        F.sum("props_k").alias("sum_k"),
        F.min("props_k").alias("min_k"),
        F.max("props_k").alias("max_k"),
    )


EVENT_PROPS_STATS_SQL = """
WITH parsed AS (
  SELECT event_type, CAST(json_extract(props, '$.k') AS INT) AS props_k
  FROM events
)
SELECT event_type,
       COUNT(props_k) AS n_with_k,
       CAST(SUM(props_k) AS BIGINT) AS sum_k,
       MIN(props_k) AS min_k,
       MAX(props_k) AS max_k
FROM parsed GROUP BY event_type
"""


def user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values via
    ``applyInPandas`` (grouped map).

    EWMA is recursively defined (y_t = α·x_t + (1-α)·y_{t-1}) — Spark's
    window frames can't express it, which makes it the canonical case for
    the grouped-map escape hatch (guide's preference order: built-ins →
    applyInPandas → mapPartitions).  One shuffle on user_id; pandas runs
    per group, Arrow-batched.

    The recursion is written as an EXPLICIT left-to-right float fold
    (``y = y*0.7 + x*0.3``) with half-away-on-scaled-double rounding, so
    it is bitwise-reproducible by DuckDB's ``list_reduce`` over the same
    ordered prefix + ``ROUND`` — giving even this non-SQL recursive
    operator an exact oracle (the prefix-fold oracle is O(n²) per user;
    it is the *checker*, not the scale path).
    """
    import pandas as pd

    ev = read_events(spark, sf_dir).select("event_id", "user_id", "ts_us", "value")

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts_us", "event_id"])
        out = []
        y = None
        for x in pdf["value"]:
            y = x if y is None else y * 0.7 + x * 0.3
            out.append(pround_py(y, 6))
        pdf["ewma_value"] = out
        return pdf[["event_id", "user_id", "ts_us", "value", "ewma_value"]]

    return ev.groupBy("user_id").applyInPandas(
        ewma,
        schema="event_id long, user_id long, ts_us long, value double,"
        " ewma_value double",
    )


# Recursive EWMA as a per-row prefix fold: list the user's ordered events
# once, then list_reduce each prefix with the SAME left-to-right float
# ops as the Spark-side loop (bitwise equal; verified at sf0.01).
USER_VALUE_EWMA_SQL = """
WITH rows_ AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events
),
lists AS (
  SELECT user_id,
         list(struct_pack(e := event_id, t := ts_us, v := value)
              ORDER BY ts_us, event_id) AS evs
  FROM rows_ GROUP BY user_id
),
ex AS (
  SELECT user_id, unnest(evs) AS ev, generate_subscripts(evs, 1) AS i, evs
  FROM lists
)
SELECT ev.e AS event_id, user_id, ev.t AS ts_us, ev.v AS value,
       ROUND(list_reduce(list_transform(evs[1:i], s -> s.v),
             (acc, x) -> acc * CAST(0.7 AS DOUBLE) + x * CAST(0.3 AS DOUBLE)),
             6) AS ewma_value
FROM ex
"""


def customer_order_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value + a trailing ROWS frame, per
    customer over the order history — the analytic window-frame surface
    (beyond the reference's single row_number, SURVEY §2.5).

    One row per customer (taken at the last order): first/second/latest
    order value and the average of the trailing 3 orders.  One shuffle on
    custkey; every window shares the partitioning.  Total order
    (o_orderdate, o_orderkey) kills ties; the trailing average follows
    the grid-sum discipline (o_totalprice is 2-decimal-grid)."""
    from retail_sales_project_bigdata_spark.sources import read_table

    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    full = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    trailing3 = wo.rowsBetween(-2, 0)
    w_unordered = Window.partitionBy("o_custkey")
    return (
        orders.withColumn("rn", F.row_number().over(wo))
        .withColumn("n_orders", F.count(F.lit(1)).over(w_unordered))
        .withColumn("first_order_value", F.first("o_totalprice").over(wo))
        .withColumn("second_order_value", F.nth_value("o_totalprice", 2).over(full))
        .withColumn("last_order_value", F.last("o_totalprice").over(full))
        .withColumn(
            "trailing3_avg",
            pround(
                pround(F.sum("o_totalprice").over(trailing3), 4)
                / F.least(F.col("rn"), F.lit(3)),
                6,
            ),
        )
        .filter(F.col("rn") == F.col("n_orders"))
        .select(
            "o_custkey",
            "n_orders",
            "first_order_value",
            "second_order_value",
            "last_order_value",
            "trailing3_avg",
        )
    )


CUSTOMER_ORDER_LIFECYCLE_SQL = """
WITH w AS (
  SELECT o_custkey,
         ROW_NUMBER() OVER ord AS rn,
         COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders,
         FIRST_VALUE(o_totalprice) OVER ord AS first_order_value,
         NTH_VALUE(o_totalprice, 2) OVER full_w AS second_order_value,
         LAST_VALUE(o_totalprice) OVER full_w AS last_order_value,
         ROUND(ROUND(SUM(o_totalprice) OVER trail3, 4)
               / LEAST(ROW_NUMBER() OVER ord, 3), 6) AS trailing3_avg
  FROM orders
  WINDOW ord AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
         full_w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
         trail3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
)
SELECT o_custkey, n_orders, first_order_value, second_order_value,
       last_order_value, trailing3_avg
FROM w WHERE rn = n_orders
"""


def event_type_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per user, maximal runs of CONSECUTIVE events with
    the same event_type, one row per run (start/end/length) — the
    value-change analog of gap sessionization (change detection via lag,
    island id via running sum of change flags; one shuffle on user_id,
    same window reused for both passes)."""
    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    prev_type = F.lag("event_type").over(w)
    df = ev.withColumn(
        "is_change",
        F.when(
            prev_type.isNull() | (prev_type != F.col("event_type")), 1
        ).otherwise(0),
    ).withColumn(
        "island_seq",
        F.sum("is_change")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("int"),
    )
    return (
        df.groupBy("user_id", "island_seq")
        .agg(
            F.min("event_type").alias("event_type"),
            F.min("ts_us").alias("start_us"),
            F.max("ts_us").alias("end_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id", "island_seq")
    )


EVENT_TYPE_ISLANDS_SQL = """
WITH g AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
         CASE WHEN LAG(event_type) OVER w IS NULL
                OR LAG(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS is_change
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
), isl AS (
  SELECT *,
         CAST(SUM(is_change) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
           AS island_seq
  FROM g
)
SELECT user_id, island_seq, MIN(event_type) AS event_type,
       MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
       COUNT(*) AS n_events
FROM isl
GROUP BY 1, 2
ORDER BY 1, 2
"""


_US_PER_DAY = 86_400_000_000
ROLLING_WINDOW_DAYS = 7


def rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per day (the DAU/WAU query).

    ``count(DISTINCT)`` over a sliding frame has no distributed window
    form — the textbook ``size(collect_set() over (range ...))`` needs a
    GLOBAL (unpartitioned) sort window: one task owns the whole table.
    The scalable rewrite used here expands each distinct (day, user) pair
    into the ≤7 window-ends it contributes to, re-distincts, and counts —
    three hash shuffles, all partitioned by (day/user) keys, bounded 7×
    amplification of the already-deduped daily-actives frame, and no
    per-task state beyond a hash aggregate.  window-ends land on observed
    days only (broadcast semi join against the day dimension).
    """
    ev = read_events(spark, sf_dir)
    pairs = ev.select(
        F.expr(f"ts_us DIV {_US_PER_DAY}").alias("day"), "user_id"
    ).distinct()
    daily = pairs.groupBy("day").agg(
        F.count(F.lit(1)).alias("active_users_1d")
    )
    # day dimension rides on the daily aggregate (already unique per day)
    # instead of a second full-distinct pass over the pairs frame.
    days = daily.select("day")
    contrib = pairs.select(
        F.explode(
            F.sequence(
                F.col("day"), F.col("day") + F.lit(ROLLING_WINDOW_DAYS - 1)
            )
        ).alias("window_day"),
        "user_id",
    ).distinct()
    rolling = (
        contrib.join(
            F.broadcast(days.withColumnRenamed("day", "window_day")),
            "window_day",
        )
        .groupBy("window_day")
        .agg(F.count(F.lit(1)).alias("active_users_7d"))
        .withColumnRenamed("window_day", "day")
    )
    return daily.join(rolling, "day")


HLL_LG_K = 13  # datasketches lgConfigK: ~1.6% rel. std. error, 2^13 regs


def rolling_distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch twin of :func:`rolling_distinct_users` — the
    production path once daily actives stop fitting a hash aggregate.

    The exact rewrite expands every distinct (day, user) PAIR into its
    ≤{ROLLING_WINDOW_DAYS} window-ends, so its shuffled state grows with
    users × span (the worst persistent SCALING trend at sf1: 4.2x per
    10x data).  Here each day is first collapsed to ONE fixed-size HLL
    sketch (``hll_sketch_agg`` — partial-merges map-side, so the only
    corpus-sized stage ships #partitions × #days sketches); the window
    expansion, union-merge (``hll_union_agg``) and estimation then run
    on the DAY-count-sized frame — sublinear in users, linear in days,
    ~2.5 KB of state per group at lgK={HLL_LG_K} regardless of corpus.

    Rows-only (DuckDB's HLL is a different implementation, so estimates
    cannot hash-match); property-tested against the exact twin with the
    sketch's published error bound.
    """
    ev = read_events(spark, sf_dir)
    day_sk = (
        ev.select(
            F.expr(f"ts_us DIV {_US_PER_DAY}").alias("day"), "user_id"
        )
        .groupBy("day")
        .agg(F.hll_sketch_agg("user_id", F.lit(HLL_LG_K)).alias("sk"))
        # three consumers (expansion, day dimension, 1d estimates):
        # persist the day-count-sized sketch frame so the corpus is
        # scanned ONCE, not once per consumer.  The result is returned
        # lazily, so unpersisting here would re-scan the corpus thrice;
        # the caller's registry.query_scope releases it after the action.
        .persist()
    )
    days = day_sk.select("day")
    rolling = (
        day_sk.select(
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.col("day") + F.lit(ROLLING_WINDOW_DAYS - 1),
                )
            ).alias("window_day"),
            "sk",
        )
        .join(
            F.broadcast(days.withColumnRenamed("day", "window_day")),
            "window_day",
        )
        .groupBy("window_day")
        .agg(F.hll_union_agg("sk").alias("sk7"))
    )
    return (
        rolling.join(
            # day-count-sized (one sketch per day) — broadcast, not
            # shuffle, however large the corpus underneath it was
            F.broadcast(day_sk.withColumnRenamed("day", "window_day")),
            "window_day",
        )
        .select(
            F.col("window_day").alias("day"),
            F.hll_sketch_estimate("sk").alias("active_users_1d_est"),
            F.hll_sketch_estimate("sk7").alias("active_users_7d_est"),
        )
    )


ROLLING_DISTINCT_USERS_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT epoch_us(ts) // {_US_PER_DAY} AS day, user_id FROM events
),
days AS (SELECT DISTINCT day FROM pairs),
daily AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS active_users_1d
  FROM pairs GROUP BY day
),
contrib AS (
  SELECT DISTINCT p.day + t.g AS window_day, p.user_id
  FROM pairs p CROSS JOIN range({ROLLING_WINDOW_DAYS}) t(g)
),
rolling AS (
  SELECT c.window_day AS day, CAST(COUNT(*) AS BIGINT) AS active_users_7d
  FROM contrib c JOIN days d ON c.window_day = d.day
  GROUP BY c.window_day
)
SELECT day, active_users_1d, active_users_7d
FROM daily JOIN rolling USING (day)
"""


TOP_PATHS_K = 25


def top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top navigation paths: the ordered event-type sequence of each
    session, counted across the corpus, top-25 by frequency — the
    behavioral query behind "what do users actually do?".

    Determinism: the per-session path sorts by the (ts_us, event_id)
    total order via ``array_sort`` over structs (Spark) / ordered
    ``string_agg`` (DuckDB) — the same total order the sessionizer uses,
    so ties cannot reorder.  Shape: the sessionizer's one user-shuffle,
    a per-session collect (bounded by session length, never
    corpus-sized), and a path-count hash agg; the final top-K is a
    TakeOrderedAndProject.
    """
    s = sessionize(spark, sf_dir)
    paths = s.groupBy("user_id", "session_seq").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("ts_us", "event_id", "event_type")
                    )
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path"),
        F.count(F.lit(1)).alias("path_len"),
    )
    return (
        paths.groupBy("path", "path_len")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(TOP_PATHS_K)
    )


TOP_SESSION_PATHS_SQL = f"""
WITH {_SESSION_CTE},
paths AS (
  SELECT user_id, session_seq,
         string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path,
         CAST(COUNT(*) AS BIGINT) AS path_len
  FROM s GROUP BY user_id, session_seq
)
SELECT path, path_len, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path, path_len
ORDER BY n_sessions DESC, path ASC
LIMIT {TOP_PATHS_K}
"""


ORACLES: dict[str, str] = {
    "top_session_paths": TOP_SESSION_PATHS_SQL,
    "rolling_distinct_users": ROLLING_DISTINCT_USERS_SQL,
    "event_type_islands": EVENT_TYPE_ISLANDS_SQL,
    "customer_order_lifecycle": CUSTOMER_ORDER_LIFECYCLE_SQL,
    "sessionize": SESSIONIZE_SQL,
    "session_stats": SESSION_STATS_SQL,
    "user_activity": USER_ACTIVITY_SQL,
    "event_props_stats": EVENT_PROPS_STATS_SQL,
    "user_value_ewma": USER_VALUE_EWMA_SQL,
    "session_window_stats": SESSION_WINDOW_STATS_SQL,
}

QUERIES = {
    "top_session_paths": top_session_paths,
    "rolling_distinct_users": rolling_distinct_users,
    "rolling_distinct_users_hll": rolling_distinct_users_hll,
    "event_type_islands": event_type_islands,
    "customer_order_lifecycle": customer_order_lifecycle,
    "sessionize": sessionize,
    "session_stats": session_stats,
    "user_activity": user_activity,
    "event_props_stats": event_props_stats,
    "user_value_ewma": user_value_ewma,
    "session_window_stats": session_window_stats,
}
