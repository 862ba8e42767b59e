"""Relational surface, part 4: interval analytics over the events stream.

q55 is the classic "maximum concurrent intervals" sweep-line — the query
behind capacity planning (peak concurrent sessions), licensing (max
simultaneous seats), and infra sizing. The textbook formulation is a
running SUM over ALL boundary events in one global timestamp order — a
single-partition window, the same 100 TB killer p19 exists to avoid. The
implementation here is the distributed form: per-hour-bin running sums in
parallel, plus a broadcast cumulative net-delta offset per bin (the p19
bucket-offset pattern applied to a sweep line). The only single-partition
work is the |bins|-row offset window.

q56 is cumulative-distinct accrual ("how fast does a user discover the
product surface") — per-user first-touch flags turned into a running
distinct count WITHOUT collect_set: a first-occurrence row_number flag
summed over the per-user order. Both windows partition on user-scale keys,
so the plan holds at any corpus size.

Reference parity: the reference ships arbitrary SQL to a warehouse
(src/dbt_osmosis/core/sql_operations.py — execute_sql_code); these queries
are part of the engine-side surface a warehouse user would expect to run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from dbt_osmosis_spark.functions.timeutil import epoch_us_sql as _eus
from dbt_osmosis_spark.operators import register
from dbt_osmosis_spark.operators.relational import session_break_flag, t
from dbt_osmosis_spark.sources.parquet import _scratch_path, read_layout

# --------------------------------------------------------------------------
# q55: peak concurrent sessions per hour — distributed sweep line
# --------------------------------------------------------------------------
# Sessions are q15's 30-min-gap sessionization; each session contributes a
# +1 boundary at its start and a -1 at its end. Sweep order is
# (ts, delta DESC, user_id, session_id): at an identical timestamp a start
# is processed before an end (touching sessions count as concurrent — the
# closed-interval convention), and the (user_id, session_id) tail makes the
# order total, so every intermediate running value is engine-exact.
#
# Scale shape: boundaries are binned by hour; the running sum is computed
# per bin in parallel; per-bin NET deltas (a tiny agg) become cumulative
# carry-in offsets via a window over |bins| rows only, broadcast back.
# concurrency = carry_in + local_running. No global sort, no
# single-partition pass over the data — the exact sweep-line answer with
# p19's bucket-offset decomposition.

_Q55_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts,
         SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM ordered
),
spans AS (
  SELECT user_id, session_id, MIN(ts) AS s_ts, MAX(ts) AS e_ts
  FROM sessions GROUP BY user_id, session_id
),
bounds AS (
  SELECT user_id, session_id, s_ts AS ts, 1 AS delta FROM spans
  UNION ALL
  SELECT user_id, session_id, e_ts AS ts, -1 AS delta FROM spans
),
swept AS (
  SELECT ts, delta,
         SUM(delta) OVER (ORDER BY ts, delta DESC, user_id, session_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
  FROM bounds
)
SELECT date_trunc('hour', ts) AS hour,
       COUNT(*) AS n_starts,
       CAST(MAX(conc) AS BIGINT) AS max_concurrent
FROM swept
WHERE delta = 1
GROUP BY 1
ORDER BY hour
"""


@register("q55_concurrent_intervals", oracle=_Q55_ORACLE)
def q55_concurrent_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = order.rowsBetween(W.unboundedPreceding, W.currentRow)
    flagged = e.withColumn("is_new_session", session_break_flag(order))
    spans = (
        flagged.withColumn("session_id", F.sum("is_new_session").over(run))
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s_ts"), F.max("ts").alias("e_ts"))
    )
    bounds = (
        spans.select(
            "user_id", "session_id", F.col("s_ts").alias("ts"), F.lit(1).alias("delta")
        )
        .unionByName(
            spans.select(
                "user_id", "session_id", F.col("e_ts").alias("ts"), F.lit(-1).alias("delta")
            )
        )
        .withColumn("bin", F.date_trunc("hour", F.col("ts")))
    )
    # Parallel within-bin sweep; total order (ts, delta DESC, user, session).
    local = (
        W.partitionBy("bin")
        .orderBy("ts", F.desc("delta"), "user_id", "session_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    swept = bounds.withColumn("local_run", F.sum("delta").over(local))
    # Carry-in per bin: cumulative net delta of all earlier bins. The
    # unpartitioned window runs over |bins| rows only (one per hour), never
    # over the boundary stream itself.
    nets = bounds.groupBy("bin").agg(F.sum("delta").alias("net"))
    carry = F.coalesce(
        F.sum("net").over(W.orderBy("bin").rowsBetween(W.unboundedPreceding, -1)),
        F.lit(0),
    )
    offsets = nets.select("bin", carry.alias("carry_in"))
    return (
        swept.join(F.broadcast(offsets), "bin")
        .filter(F.col("delta") == 1)
        .groupBy(F.col("bin").alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n_starts"),
            F.max(F.col("carry_in") + F.col("local_run")).cast("bigint").alias("max_concurrent"),
        )
        .orderBy("hour")
    )


# --------------------------------------------------------------------------
# q56: cumulative-distinct accrual — running COUNT(DISTINCT) without state
# --------------------------------------------------------------------------
# "When did each user first reach 3 distinct event types?" A running
# distinct count is not a supported window aggregate (and collect_set over
# a growing frame is O(n·k) state); the scalable identity is
# running_distinct = SUM(first_occurrence_flag), where the flag is
# row_number() = 1 over (user, type). Two windows, both partitioned by
# user-scale keys; no set state anywhere.

_Q56_REACH = 3

_Q56_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS first_seen
  FROM events
),
accrual AS (
  SELECT user_id, ts,
         SUM(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_seen
  FROM flagged
)
SELECT user_id,
       CAST(MAX(n_seen) AS BIGINT) AS n_types,
       MIN(ts) AS first_ts,
       MIN(CASE WHEN n_seen >= {_Q56_REACH} THEN ts END) AS reach_ts
FROM accrual
GROUP BY user_id
ORDER BY user_id
"""


@register("q56_distinct_accrual", oracle=_Q56_ORACLE)
def q56_distinct_accrual(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    first = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    run = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    accrual = e.withColumn(
        "first_seen", F.when(F.row_number().over(first) == 1, 1).otherwise(0)
    ).withColumn("n_seen", F.sum("first_seen").over(run))
    return (
        accrual.groupBy("user_id")
        .agg(
            F.max("n_seen").cast("bigint").alias("n_types"),
            F.min("ts").alias("first_ts"),
            F.min(F.when(F.col("n_seen") >= _Q56_REACH, F.col("ts"))).alias("reach_ts"),
        )
        .orderBy("user_id")
    )

# --------------------------------------------------------------------------
# q57: weekly retention-cohort matrix — the product-analytics staple
# --------------------------------------------------------------------------
# Cohort = ISO week of each user's first event; cell (cohort_week,
# week_offset) counts the cohort's users active offset weeks later. The
# naive formulation joins raw events against a per-user firsts table; the
# scalable form never re-touches raw events after ONE aggregate:
# (user, week) distinct-activity rows (shuffle 1, partial-agg'd map-side —
# collapses each user's events within a week before the exchange), a
# per-user min-week window over those tiny rows (shuffle 2, user key),
# then the cohort-cell aggregate over rows already distinct per
# (user, week) — so COUNT(*) IS the distinct-user count, no
# COUNT(DISTINCT) state. All keys are user-scale; nothing global.
# date_trunc('week') is ISO-Monday in both engines, and the offset is an
# exact integer division of whole days — engine-identical.

_Q57_ORACLE = """
WITH uw AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
  FROM events
),
cohorts AS (
  SELECT user_id, wk,
         MIN(wk) OVER (PARTITION BY user_id) AS cohort_week
  FROM uw
)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, wk) // 7 AS INT) AS week_offset,
       COUNT(*) AS n_active_users
FROM cohorts
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("q57_retention_cohorts", oracle=_Q57_ORACLE)
def q57_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    uw = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    cohorts = uw.withColumn(
        "cohort_week", F.min("wk").over(W.partitionBy("user_id"))
    )
    return (
        cohorts.groupBy(
            "cohort_week",
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active_users"))
        .orderBy("cohort_week", "week_offset")
    )


# --------------------------------------------------------------------------
# q58: gap-filled hourly series — resample with explicit zeros
# --------------------------------------------------------------------------
# Downstream consumers (dashboards, anomaly detectors, forecast models)
# need EVERY bucket present, including empty ones; a bare groupBy silently
# drops hours with no events. The scalable shape: the observed aggregate
# is one partial-agg'd shuffle on (event_type, hour); the dense grid is
# |types| × |hours| — DIMENSION-sized, built by sequence()+explode from a
# 1-row global min/max agg and the distinct type list (both tiny,
# broadcast) — never corpus-sized. The grid LEFT-joins the observed
# counts; at 100 TB the grid is still ~types × hours rows, so Spark
# broadcasts whichever side is smaller and the raw events are touched
# exactly once.

_Q58_ORACLE = """
WITH bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
  FROM events
),
grid AS (
  SELECT et.event_type, g.h AS hour
  FROM (SELECT DISTINCT event_type FROM events) et
  CROSS JOIN (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
              FROM bounds) g
),
obs AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
)
SELECT grid.event_type, grid.hour,
       COALESCE(obs.n, 0) AS n_events,
       COALESCE(obs.v, CAST(0 AS DOUBLE)) AS total_value
FROM grid LEFT JOIN obs
  ON grid.event_type = obs.event_type AND grid.hour = obs.hour
ORDER BY grid.event_type, grid.hour
"""


@register("q58_gap_fill", oracle=_Q58_ORACLE)
def q58_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    types = e.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(hours))
    obs = (
        e.withColumn("hour", F.date_trunc("hour", F.col("ts")))
        .groupBy("event_type", "hour")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("v"),
        )
    )
    return (
        grid.join(obs, ["event_type", "hour"], "left")
        .select(
            "event_type",
            "hour",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.coalesce("v", F.lit(0.0)).alias("total_value"),
        )
        .orderBy("event_type", "hour")
    )


# --------------------------------------------------------------------------
# q59: DAU / WAU / stickiness — rolling distinct-user engagement
# --------------------------------------------------------------------------
# The engagement dashboard staple: daily active users, trailing-7-day
# active users, and their ratio (stickiness). A running COUNT(DISTINCT)
# over a sliding range frame is not a supported window aggregate (and a
# per-day distinct set is unbounded state); the scalable identity is the
# CONTRIBUTION EXPLODE: each distinct (user, day) activity row contributes
# membership to the 7 trailing report days, so WAU(d) = COUNT(*) over
# distinct (user, report_day) contributions. Rows never exceed
# |user-days| x 7 — activity-scale, not event-scale, and every shuffle
# keys on (user, day) or day. Report days outside the observed range are
# clipped by an inner join against the observed-day dimension (broadcast).

_Q59_WIN = 7  # trailing window in days

_Q59_ORACLE = f"""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
  FROM events
),
days AS (SELECT DISTINCT day FROM ud),
contrib AS (
  SELECT DISTINCT ud.user_id, d.day AS report_day
  FROM ud
  JOIN days d ON d.day >= ud.day
             AND d.day < ud.day + INTERVAL {_Q59_WIN} DAY
),
wau AS (
  SELECT report_day AS day, COUNT(*) AS wau FROM contrib GROUP BY 1
),
dau AS (
  SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1
)
SELECT dau.day, dau.dau, wau.wau,
       round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
FROM dau JOIN wau ON dau.day = wau.day
ORDER BY dau.day
"""


@register("q59_dau_wau_stickiness", oracle=_Q59_ORACLE)
def q59_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    days = ud.select("day").distinct()
    contrib = (
        ud.join(
            F.broadcast(days.select(F.col("day").alias("report_day"))),
            (F.col("report_day") >= F.col("day"))
            & (
                F.col("report_day")
                < F.col("day") + F.expr(f"INTERVAL {_Q59_WIN} DAY")
            ),
        )
        .select("user_id", "report_day")
        .distinct()
    )
    wau = contrib.groupBy(F.col("report_day").alias("day")).agg(
        F.count(F.lit(1)).alias("wau")
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# q60: event-transition matrix — first-order Markov behavior model
# --------------------------------------------------------------------------
# "After a click, what happens next?" — the navigation model behind
# next-action prediction, anomaly detection (improbable transitions) and
# funnel design. Consecutive event pairs per user (a lag window over the
# user's total (ts, event_id) order) aggregate into the |types|^2
# transition matrix with row-normalized probabilities. Shuffles: the
# per-user lag window (user key) and the (prev, next) aggregate
# (dimension-sized). Probabilities are single IEEE divisions of exact
# counts, rounded to 1e-6 — engine-identical.

_Q60_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
pairs AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       round(CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
FROM pairs
ORDER BY prev_type, next_type
"""


@register("q60_event_transitions", oracle=_Q60_ORACLE)
def q60_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("prev_type", F.lag("event_type").over(order))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # the row-normalizing window runs over the |types|^2 matrix (~25 rows)
    return (
        pairs.withColumn(
            "p",
            F.round(
                F.col("n").cast("double")
                / F.sum("n").over(W.partitionBy("prev_type")),
                6,
            ),
        )
        .orderBy("prev_type", "next_type")
    )


# ---- q61: bucketed co-located join (exchange-free SortMergeJoin) -----------
# The 100-TB join lever the rest of the q-family doesn't show: when the two
# biggest facts (lineitem, orders) are WRITTEN bucketed on the join key,
# every subsequent join between them is exchange-free — Spark reads both
# sides already co-partitioned by bucket, so the SortMergeJoin has ZERO
# shuffle on either input (tests/test_plans.py pins this: no Exchange
# below the join). That's the difference between re-shuffling 100 TB per
# query and paying the shuffle ONCE at ingest — the single highest-value
# physical-layout decision on a real cluster (the same reason the IVF
# index s17 partitions by cell). The build step here is the idempotent
# ingest twin (overwrite saveAsTable, per-SF table names); a production
# pipeline runs it once, not per query. The merge hint pins SMJ so the
# demonstrated plan is the at-scale plan even where tiny SF sides would
# otherwise broadcast. Results are identical to joining the raw parquet —
# the oracle computes exactly that.

import re as _re

from dbt_osmosis_spark.functions.numeric import dec_sum as _dec_sum

_Q61_BUCKETS = 16

_Q61_ORACLE = """
SELECT o.o_orderpriority AS priority,
  COUNT(*) AS n_lineitems,
  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o.o_orderpriority
ORDER BY priority
"""


def bucketed_table_names(sf_dir: str) -> tuple[str, str]:
    tag = _re.sub(r"[^0-9a-zA-Z]", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    return f"bkt_lineitem_{tag}", f"bkt_orders_{tag}"


def build_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Ingest-time layout step: write lineitem and orders bucketed (and
    bucket-sorted) on the order key with the SAME bucket count, so any
    later equi-join on that key is co-located. Overwrite = idempotent."""
    li_tbl, o_tbl = bucketed_table_names(sf_dir)
    # A fresh session's catalog doesn't know tables a previous session
    # wrote, but the warehouse LOCATION survives — drop both and clear any
    # orphaned location so the build is idempotent across sessions too.
    import shutil as _shutil
    from urllib.parse import urlparse as _urlparse

    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    for tbl in (li_tbl, o_tbl):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        loc = _urlparse(f"{warehouse}/{tbl}").path
        _shutil.rmtree(loc, ignore_errors=True)
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    (
        li.write.bucketBy(_Q61_BUCKETS, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").format("parquet").saveAsTable(li_tbl)
    )
    (
        o.write.bucketBy(_Q61_BUCKETS, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").format("parquet").saveAsTable(o_tbl)
    )
    return li_tbl, o_tbl


def bucketed_join_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serve-side plan only (tables must exist): exchange-free SMJ."""
    li_tbl, o_tbl = bucketed_table_names(sf_dir)
    li = spark.table(li_tbl)
    o = spark.table(o_tbl).filter(
        F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    return (
        o.hint("merge")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            _dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=6
            ).alias("revenue"),
        )
        .orderBy("priority")
    )


@register("q61_bucketed_join", oracle=_Q61_ORACLE)
def q61_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    build_bucketed_tables(spark, sf_dir)
    return bucketed_join_plan(spark, sf_dir)


# ---- q62: date-partitioned layout + partition-pruned scan -------------------
# q61's sibling layout lever, for the TIME axis: events written
# partitionBy(day) once at ingest, so every date-bounded query afterwards
# lists and reads ONLY the matching day directories — at 100 TB of events
# the difference between scanning 3 days and scanning 3 years. The serve
# plan's scan must show the day filter as a PartitionFilter (directory
# pruning at planning time, before any I/O), pinned by tests/test_plans.py.
# The build is the idempotent ingest twin; results are identical to
# filtering raw parquet — the oracle computes exactly that. The partition
# column is a DATE-derived string (day), keeping per-partition file counts
# bounded (one dir per day, not per timestamp).

_Q62_FROM = "2024-01-10"
_Q62_TO = "2024-01-13"  # exclusive

_Q62_ORACLE = f"""
SELECT CAST(ts AS DATE)::VARCHAR AS day, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
FROM events
WHERE CAST(ts AS DATE) >= DATE '{_Q62_FROM}' AND CAST(ts AS DATE) < DATE '{_Q62_TO}'
GROUP BY 1, 2
ORDER BY day, event_type
"""


def _q62_layout_path(sf_dir: str) -> str:
    return _scratch_path(".events_by_day", sf_dir, "q62")


def build_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    path = _q62_layout_path(sf_dir)
    ev = t(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd")
    )
    ev.write.partitionBy("day").mode("overwrite").parquet(path)
    return path


def partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve side only: the day predicate must prune at the directory
    listing (PartitionFilters), not as a row filter after a full scan."""
    ev = read_layout(spark, _q62_layout_path(sf_dir))
    return (
        ev.filter((F.col("day") >= _Q62_FROM) & (F.col("day") < _Q62_TO))
        # partition-column type inference reads `day` back as DATE; the
        # oracle column is the written string — format AFTER the pruning
        # filter so the PartitionFilters stay native
        .withColumn("day", F.date_format("day", "yyyy-MM-dd"))
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum(F.col("value"), scale=6).alias("total_value"),
        )
        .orderBy("day", "event_type")
    )


@register("q62_partitioned_layout", oracle=_Q62_ORACLE)
def q62_partitioned_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    build_partitioned_events(spark, sf_dir)
    return partition_pruned_scan(spark, sf_dir)


# ---- q63: Pareto frontier (skyline) — distributed, no all-pairs -------------
# "Which customers are on the spend/order-count efficiency frontier?" —
# the SKYLINE operator (Borzsonyi et al., ICDE 2001). The naive form is an
# all-pairs dominance anti-join (the oracle states it as NOT EXISTS —
# correct and obviously-right, but O(n^2)); the engine plan is the exact
# distributed decomposition, the same bucket-offset pattern as q55/p19:
#   keep p iff  y(p) >  max y over points with x strictly greater
#          and  y(p) == max y among points with the SAME x (ties all kept)
# computed as (1) per-distinct-x max (one agg), (2) a strict running max
# over distinct x within each x-bin (window over distinct values, not
# rows), (3) cross-bin carry-in maxima via a |bins|-row window broadcast
# back. No all-pairs join, no global sort, no single-partition pass over
# customer-scale data anywhere.

_Q63_BIN = 10_000.0  # spend per bin; |bins| stays tiny at any SF

_Q63_ORACLE = """
WITH pts AS (
  SELECT o_custkey AS cust_key,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS spend,
         COUNT(*) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT p.cust_key, p.spend, p.n_orders
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts o
  WHERE o.spend >= p.spend AND o.n_orders >= p.n_orders
    AND (o.spend > p.spend OR o.n_orders > p.n_orders)
)
ORDER BY p.spend DESC, p.cust_key
"""


@register("q63_pareto_frontier", oracle=_Q63_ORACLE)
def q63_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    pts = o.groupBy(F.col("o_custkey").alias("cust_key")).agg(
        _dec_sum(F.col("o_totalprice"), scale=2).alias("spend"),
        F.count(F.lit(1)).alias("n_orders"),
    ).withColumn("bin", F.floor(F.col("spend") / F.lit(_Q63_BIN)))
    # (1) max y per distinct x — also the tie rule's keep bar at x itself
    per_x = pts.groupBy("bin", "spend").agg(F.max("n_orders").alias("y_at_x"))
    # (2) strict running max over DISTINCT spends within the bin: rows
    # before the current distinct-spend row are exactly the strictly
    # greater spends of the same bin
    in_bin = (
        W.partitionBy("bin")
        .orderBy(F.desc("spend"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    per_x = per_x.withColumn("runmax_in_bin", F.max("y_at_x").over(in_bin))
    # (3) cross-bin carry-in: max y of all strictly-higher bins (every
    # spend there is strictly greater by bin construction). |bins| rows.
    bin_max = pts.groupBy("bin").agg(F.max("n_orders").alias("bmax"))
    above = (
        W.orderBy(F.desc("bin")).rowsBetween(W.unboundedPreceding, -1)
    )
    carry = bin_max.select(
        "bin", F.max("bmax").over(above).alias("carry_in")
    )
    bars = (
        per_x.join(F.broadcast(carry), "bin")
        .select(
            "bin", "spend", "y_at_x",
            F.greatest(
                F.coalesce("runmax_in_bin", F.lit(-1)),
                F.coalesce("carry_in", F.lit(-1)),
            ).alias("best_above"),
        )
    )
    return (
        pts.join(bars, ["bin", "spend"])
        .filter(
            (F.col("n_orders") > F.col("best_above"))
            & (F.col("n_orders") == F.col("y_at_x"))
        )
        .select("cust_key", "spend", "n_orders")
        .orderBy(F.desc("spend"), "cust_key")
    )


# ---- q64: multi-touch (linear) click attribution ----------------------------
# q30 rolls attributed purchases up per user; q64 answers the marketing
# question q30 can't: WHICH click hours earn the credit when a purchase
# had several preceding clicks? Linear attribution: each purchase's value
# splits equally across all same-user clicks in the preceding hour, and
# the credit aggregates by the CLICK's hour. Scale shape: one user-key
# shuffle for the interval join (the time predicate prunes each user's
# pair count to the window — q30's shape), a purchase-key window to count
# touches (purchase-sized partitions), and a dimension-sized hour rollup.
# Determinism: the per-pair credit value/n is one IEEE division, then
# decimal-cast summation (the dec_sum convention) — order-free.

_Q64_ORACLE = """
WITH pairs AS (
  SELECT c.event_id AS click_id, date_trunc('hour', c.ts) AS click_hour,
         p.event_id AS purchase_id, p.value
  FROM events c JOIN events p
    ON c.user_id = p.user_id
   AND c.event_type = 'click' AND p.event_type = 'purchase'
   AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
),
credited AS (
  SELECT click_id, click_hour,
         value / COUNT(*) OVER (PARTITION BY purchase_id) AS credit
  FROM pairs
)
SELECT click_hour,
       COUNT(*) AS n_credited_touches,
       COUNT(DISTINCT click_id) AS n_clicks,
       CAST(SUM(CAST(credit AS DECIMAL(28,6))) AS DOUBLE) AS credited_value
FROM credited
GROUP BY click_hour
ORDER BY click_hour
"""


@register("q64_multitouch_attribution", oracle=_Q64_ORACLE)
def q64_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
        "value",
    )
    pairs = c.join(
        p,
        (F.col("cu") == F.col("pu"))
        & (F.col("pts") >= F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        "click_id",
        F.date_trunc("hour", F.col("cts")).alias("click_hour"),
        "purchase_id",
        "value",
    )
    credited = pairs.withColumn(
        "credit",
        F.col("value") / F.count(F.lit(1)).over(W.partitionBy("purchase_id")),
    )
    from dbt_osmosis_spark.functions.numeric import dec_sum as _ds

    return (
        credited.groupBy("click_hour")
        .agg(
            F.count(F.lit(1)).alias("n_credited_touches"),
            F.countDistinct("click_id").alias("n_clicks"),
            _ds(F.col("credit"), scale=6).alias("credited_value"),
        )
        .orderBy("click_hour")
    )


# ---- q65: RFM segmentation (broadcast-quantile scoring) ---------------------
# The classic customer-value segmentation: per user, Recency (days since
# last purchase), Frequency (purchase count), Monetary (decimal-exact
# spend); each dimension scored 1-5 against its own corpus quintiles.
# The scale trap in every textbook RFM query is ntile() OVER () — a
# single-partition window over the USER dimension. Here the quintile
# boundaries come from ONE tiny exact-percentile aggregate (q22's
# percentile/quantile_cont pairing), broadcast back, and scores are
# map-side integer comparison sums — no user-dimension window anywhere.
# Recency is integer epoch-day arithmetic; monetary sums are decimal-cast
# at both levels (user, segment), so every emitted number is engine-exact.

_Q65_ORACLE = """
WITH p AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
),
anchor AS (SELECT MAX(ts) AS maxts FROM p),
rfm AS (
  SELECT user_id,
         CAST((epoch_us((SELECT maxts FROM anchor)) - epoch_us(MAX(ts))) // 86400000000 AS BIGINT) AS r_days,
         COUNT(*) AS freq,
         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS monetary
  FROM p GROUP BY user_id
),
b AS (
  SELECT quantile_cont(r_days, 0.2) AS r20, quantile_cont(r_days, 0.4) AS r40,
         quantile_cont(r_days, 0.6) AS r60, quantile_cont(r_days, 0.8) AS r80,
         quantile_cont(freq, 0.2) AS f20, quantile_cont(freq, 0.4) AS f40,
         quantile_cont(freq, 0.6) AS f60, quantile_cont(freq, 0.8) AS f80,
         quantile_cont(monetary, 0.2) AS m20, quantile_cont(monetary, 0.4) AS m40,
         quantile_cont(monetary, 0.6) AS m60, quantile_cont(monetary, 0.8) AS m80
  FROM rfm
),
scored AS (
  SELECT user_id, monetary,
         1 + CASE WHEN r_days < r80 THEN 1 ELSE 0 END + CASE WHEN r_days < r60 THEN 1 ELSE 0 END
           + CASE WHEN r_days < r40 THEN 1 ELSE 0 END + CASE WHEN r_days < r20 THEN 1 ELSE 0 END AS r_score,
         1 + CASE WHEN freq > f20 THEN 1 ELSE 0 END + CASE WHEN freq > f40 THEN 1 ELSE 0 END
           + CASE WHEN freq > f60 THEN 1 ELSE 0 END + CASE WHEN freq > f80 THEN 1 ELSE 0 END AS f_score,
         1 + CASE WHEN monetary > m20 THEN 1 ELSE 0 END + CASE WHEN monetary > m40 THEN 1 ELSE 0 END
           + CASE WHEN monetary > m60 THEN 1 ELSE 0 END + CASE WHEN monetary > m80 THEN 1 ELSE 0 END AS m_score
  FROM rfm, b
)
SELECT r_score, f_score, m_score,
       COUNT(*) AS n_users,
       CAST(SUM(CAST(monetary AS DECIMAL(28,6))) AS DOUBLE) AS total_monetary
FROM scored
GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
"""


@register("q65_rfm_segments", oracle=_Q65_ORACLE)
def q65_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_osmosis_spark.functions.numeric import dec_sum as _ds

    e = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    anchor = e.agg(F.max("ts").alias("maxts"))
    rfm = (
        e.groupBy("user_id")
        .agg(
            F.max("ts").alias("umax"),
            F.count(F.lit(1)).alias("freq"),
            _ds(F.col("value"), scale=6).alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.expr(
                f"CAST(({_eus('maxts')} - {_eus('umax')}) DIV 86400000000 AS BIGINT)"
            ).alias("r_days"),
            "freq",
            "monetary",
        )
    )
    b = rfm.agg(
        *[
            F.expr(f"percentile({c}, {q})").alias(f"{c[0]}{int(q * 100)}")
            for c in ("r_days", "freq", "monetary")
            for q in (0.2, 0.4, 0.6, 0.8)
        ]
    )
    scored = rfm.crossJoin(F.broadcast(b)).select(
        "user_id",
        "monetary",
        (
            F.lit(1)
            + F.when(F.col("r_days") < F.col("r80"), 1).otherwise(0)
            + F.when(F.col("r_days") < F.col("r60"), 1).otherwise(0)
            + F.when(F.col("r_days") < F.col("r40"), 1).otherwise(0)
            + F.when(F.col("r_days") < F.col("r20"), 1).otherwise(0)
        ).alias("r_score"),
        (
            F.lit(1)
            + F.when(F.col("freq") > F.col("f20"), 1).otherwise(0)
            + F.when(F.col("freq") > F.col("f40"), 1).otherwise(0)
            + F.when(F.col("freq") > F.col("f60"), 1).otherwise(0)
            + F.when(F.col("freq") > F.col("f80"), 1).otherwise(0)
        ).alias("f_score"),
        (
            F.lit(1)
            + F.when(F.col("monetary") > F.col("m20"), 1).otherwise(0)
            + F.when(F.col("monetary") > F.col("m40"), 1).otherwise(0)
            + F.when(F.col("monetary") > F.col("m60"), 1).otherwise(0)
            + F.when(F.col("monetary") > F.col("m80"), 1).otherwise(0)
        ).alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            _ds(F.col("monetary"), scale=6).alias("total_monetary"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


# ---- q66: session entry/exit analysis ----------------------------------------
# The product-analytics staple built on q15's sessionization: which event
# type OPENS sessions, which CLOSES them, and how often a session bounces
# (one event). Output is the (entry_type, exit_type) matrix with bounce
# counts — the report behind landing/exit-page optimization. Scale shape:
# the sessionizer's user-keyed windows (q15's shape), one session-key
# aggregate whose first/last picks ride the same struct-min trick both
# engines compute identically ((ts, event_id) is unique, so the order is
# total), and a dimension-sized matrix rollup.

_Q66_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM ordered
),
per_session AS (
  SELECT user_id, session_id,
         MIN({'ts': ts, 'event_id': event_id, 'event_type': event_type}).event_type AS entry_type,
         MAX({'ts': ts, 'event_id': event_id, 'event_type': event_type}).event_type AS exit_type,
         COUNT(*) AS n_events
  FROM sessions GROUP BY user_id, session_id
)
SELECT entry_type, exit_type,
       COUNT(*) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS bounce_rate
FROM per_session
GROUP BY entry_type, exit_type
ORDER BY entry_type, exit_type
"""


@register("q66_session_entry_exit", oracle=_Q66_ORACLE)
def q66_session_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = order.rowsBetween(W.unboundedPreceding, W.currentRow)
    flagged = e.withColumn("is_new_session", session_break_flag(order)).withColumn("session_id", F.sum("is_new_session").over(run))
    per_session = flagged.groupBy("user_id", "session_id").agg(
        F.min(F.struct("ts", "event_id", "event_type"))["event_type"].alias("entry_type"),
        F.max(F.struct("ts", "event_id", "event_type"))["event_type"].alias("exit_type"),
        F.count(F.lit(1)).alias("n_events"),
    )
    bounces = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).cast("bigint")
    return (
        per_session.groupBy("entry_type", "exit_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            bounces.alias("n_bounces"),
        )
        .withColumn(
            "bounce_rate",
            F.col("n_bounces").cast("double") / F.col("n_sessions"),
        )
        .orderBy("entry_type", "exit_type")
    )


# Shared dense-hour machinery for the time-series family (q67/q68; q58's
# grid predates it and carries its own per-type variant): missing hours
# must be REAL zeros downstream, so series ops left-join this spine.
DUCK_HOUR_SPINE_CTES = """bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
spine AS (
  SELECT unnest(generate_series((SELECT h0 FROM bounds), (SELECT h1 FROM bounds),
                INTERVAL 1 HOUR)) AS h
)"""


def hour_spine(hourly: DataFrame) -> DataFrame:
    """Dense hour grid [min h, max h] of an hourly relation with column
    `h` — one bounds aggregate + one explode(sequence); hour-dimension-
    sized regardless of event volume."""
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    return bounds.select(
        F.explode(F.sequence(F.col("h0"), F.col("h1"), F.expr("INTERVAL 1 HOUR"))).alias("h")
    )


# ---- q67: hourly-series autocorrelation --------------------------------------
# Time-series shape diagnostics over the event stream: Pearson
# autocorrelation of the DENSE hourly event-count series at daily-rhythm
# lags (1, 2, 3, 6, 12, 24 h). A strong r at 24 = daily seasonality; fast
# decay = bursty/noisy traffic — the numbers a capacity planner reads
# before picking q55's binning. The series is densified on an hour spine
# (missing hours are real zeros, not absent rows — skipping them biases r
# upward), every moment is an exact BIGINT sum (n, Σx, Σy, Σxy, Σx², Σy²
# of integer counts), and only the final Pearson formula is one double
# expression — identical in both engines, so no rounding games beyond the
# -0.0 canonicalization. Scale: one partial-aggregated hour rollup; the
# spine, the lag self-join, and the per-lag sums all run on the HOUR
# dimension (720 rows/month regardless of event volume).

_Q67_LAGS = [1, 2, 3, 6, 12, 24]

_Q67_ORACLE = f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, COUNT(*) AS c FROM events GROUP BY 1
),
{DUCK_HOUR_SPINE_CTES},
dense AS (
  SELECT s.h, COALESCE(hourly.c, 0) AS c
  FROM spine s LEFT JOIN hourly ON hourly.h = s.h
),
lags AS (SELECT unnest({_Q67_LAGS}) AS lag),
pairs AS (
  SELECT l.lag, a.c AS x, b.c AS y
  FROM lags l
  JOIN dense a ON TRUE
  JOIN dense b ON b.h = a.h + to_hours(l.lag)
),
sums AS (
  SELECT lag, COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pairs GROUP BY lag
)
SELECT lag, CAST(n AS BIGINT) AS n_pairs,
       CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx = 0
              OR CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy = 0
            THEN CAST(NULL AS DOUBLE)
            ELSE round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
                 + 0.0
       END AS autocorr
FROM sums
ORDER BY lag
"""


@register("q67_count_autocorrelation", oracle=_Q67_ORACLE)
def q67_count_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).alias("c")
    )
    dense = (
        hour_spine(hourly).join(hourly, "h", "left")
        .select("h", F.coalesce("c", F.lit(0)).alias("c"))
    )
    lags = spark.createDataFrame([(k,) for k in _Q67_LAGS], "lag int")
    a = dense.select(F.col("h").alias("ha"), F.col("c").alias("x"))
    b = dense.select(F.col("h").alias("hb"), F.col("c").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("hb") == F.expr("ha + make_interval(0, 0, 0, 0, lag, 0, 0)"))
    )
    sums = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("x * y")).cast("bigint").alias("sxy"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
        F.sum(F.expr("y * y")).cast("bigint").alias("syy"),
    )
    n, sx, sy = F.col("n").cast("double"), F.col("sx").cast("double"), F.col("sy").cast("double")
    var_x = n * F.col("sxx") - sx * F.col("sx")
    var_y = n * F.col("syy") - sy * F.col("sy")
    r = (n * F.col("sxy") - sx * F.col("sy")) / (F.sqrt(var_x) * F.sqrt(var_y))
    return (
        sums.select(
            "lag",
            F.col("n").cast("bigint").alias("n_pairs"),
            # r is undefined on a zero-variance side (single-pair lag or a
            # constant series): NULL in both engines, never 0/0
            F.when((var_x == 0) | (var_y == 0), F.lit(None).cast("double"))
            .otherwise(F.round(r, 6) + F.lit(0.0))
            .alias("autocorr"),
        )
        .orderBy("lag")
    )


# ---- q68: per-type traffic burstiness (Fano factor) -------------------------
# q67's companion: dispersion of each event type's DENSE hourly series.
# Fano = var/mean; 1 = Poisson arrivals, >> 1 = bursty (campaign spikes,
# batch jobs), << 1 = rate-limited/regular. The spine cross-joins the
# tiny type dimension so every type sees the same zero-filled hour grid
# (a type absent for an hour is a real zero). Population-variance
# identity keeps it all-integer: fano = (n*sxx - sx^2) / (n*sx), one
# double division of exact BIGINTs. Work is |types| x |hours| rows.

_Q68_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
{DUCK_HOUR_SPINE_CTES},
types AS (SELECT DISTINCT event_type FROM events),
dense AS (
  SELECT t.event_type, s.h, COALESCE(hourly.c, 0) AS c
  FROM spine s CROSS JOIN types t
  LEFT JOIN hourly ON hourly.h = s.h AND hourly.event_type = t.event_type
),
sums AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(c) AS BIGINT) AS sx, CAST(SUM(c * c) AS BIGINT) AS sxx
  FROM dense GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_hours, sx AS n_events,
       CAST(sx AS DOUBLE) / n AS mean_per_hour,
       CASE WHEN sx = 0 THEN CAST(NULL AS DOUBLE)
            ELSE (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                 / (CAST(n AS DOUBLE) * sx) END AS fano
FROM sums
ORDER BY event_type
"""


@register("q68_traffic_burstiness", oracle=_Q68_ORACLE)
def q68_traffic_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    types = e.select("event_type").distinct()
    dense = (
        hour_spine(hourly).crossJoin(F.broadcast(types))
        .join(hourly, ["h", "event_type"], "left")
        .select("event_type", "h", F.coalesce("c", F.lit(0)).alias("c"))
    )
    sums = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").cast("bigint").alias("sx"),
        F.sum(F.expr("c * c")).cast("bigint").alias("sxx"),
    )
    n, sx = F.col("n").cast("double"), F.col("sx").cast("double")
    return (
        sums.select(
            "event_type",
            F.col("n").cast("bigint").alias("n_hours"),
            F.col("sx").alias("n_events"),
            (sx / F.col("n")).alias("mean_per_hour"),
            F.when(F.col("sx") == 0, F.lit(None).cast("double"))
            .otherwise((n * F.col("sxx") - sx * F.col("sx")) / (n * F.col("sx")))
            .alias("fano"),
        )
        .orderBy("event_type")
    )


# ---- q69: KMV distinct-count sketch evaluation -------------------------------
# t22's sibling for COUNT(DISTINCT): the K-Minimum-Values sketch
# (Bar-Yossef et al. 2002) is deterministic given its hash — keep the k
# smallest 60-bit md5 values of the key per group; estimate
# D ~ (k-1) * 2^60 / h_(k), where h_(k) is the k-th smallest hash. Like
# t22 (and unlike HLL q29, whose register layout is engine-internal), the
# whole artifact value-hash-matches the DuckDB twin, so the sketch family
# gets a second fully-checkable member. When a group has fewer than k
# distinct keys the sketch IS the exact set (estimate = exact, flagged).
# Scale: dedupe (group, key) with partial aggregation, one rank window
# per group over hash order (k rows survive per group), estimates from a
# |groups|-sized relation. The sketch is mergeable (union of k-min sets
# -> k-min of union), which is what makes it a distributed summary.

_Q69_K = 64
_Q69_SPACE = float(1 << 60)

_Q69_SPARK_H = (
    "CAST(conv(substr(md5(cast(concat('kmv#', CAST(user_id AS STRING)) AS BINARY)), 1, 15), 16, 10) AS BIGINT)"
)
_Q69_DUCK_H = "CAST('0x' || substr(md5('kmv#' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)"

_Q69_ORACLE = f"""
WITH keys AS (
  SELECT DISTINCT event_type, user_id FROM events
),
hashed AS (
  SELECT event_type, {_Q69_DUCK_H} AS h FROM keys
),
ranked AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
  FROM hashed
),
sketch AS (
  SELECT event_type, COUNT(*) AS n_kept, MAX(h) AS hk
  FROM ranked WHERE rk <= {_Q69_K} GROUP BY event_type
),
exact AS (
  SELECT event_type, COUNT(*) AS exact_distinct FROM keys GROUP BY event_type
)
SELECT e.event_type, e.exact_distinct,
       CASE WHEN s.n_kept < {_Q69_K} THEN CAST(s.n_kept AS DOUBLE)
            ELSE ({_Q69_K} - 1) * {_Q69_SPACE!r} / s.hk END AS kmv_estimate,
       CAST(s.n_kept < {_Q69_K} AS INT) AS is_exact
FROM exact e JOIN sketch s ON s.event_type = e.event_type
ORDER BY e.event_type
"""


@register("q69_kmv_distinct_eval", oracle=_Q69_ORACLE)
def q69_kmv_distinct_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    keys = e.select("event_type", "user_id").distinct()
    hashed = keys.select("event_type", F.expr(_Q69_SPARK_H).alias("h"))
    ranked = hashed.withColumn(
        "rk", F.row_number().over(W.partitionBy("event_type").orderBy("h"))
    )
    sketch = (
        ranked.filter(F.col("rk") <= _Q69_K)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("hk"))
    )
    exact = keys.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_distinct"))
    return (
        exact.join(sketch, "event_type")
        .select(
            "event_type",
            "exact_distinct",
            F.when(F.col("n_kept") < _Q69_K, F.col("n_kept").cast("double"))
            .otherwise(F.lit(float(_Q69_K - 1)) * F.lit(_Q69_SPACE) / F.col("hk"))
            .alias("kmv_estimate"),
            (F.col("n_kept") < _Q69_K).cast("int").alias("is_exact"),
        )
        .orderBy("event_type")
    )


# ---- q70: approximate functional-dependency profile --------------------------
# Data-quality auditing for the metadata plane: does column A determine
# column B? For each candidate pair, FD strength = distinct(A) /
# distinct(A, B) (1.0 = exact dependency), plus the violating-key count
# (#A-values mapping to >1 B). This is what schema-inference and dbt-test
# suggestion engines run to propose `unique`/`relationships` tests — here
# as a first-class distributed operator: one distinct-pair aggregate per
# candidate (partial-agg'd), second tiny rollup per A; no row-level
# output ever leaves the executors. Candidates cover the natural
# orders/lineitem hypotheses (key -> attribute, attribute -/-> key).

_Q70_PAIRS = [
    ("orders", "o_orderkey", "o_orderpriority"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("orders", "o_orderpriority", "o_orderstatus"),
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("lineitem", "l_partkey", "l_suppkey"),
]


def _q70_oracle() -> str:
    blocks = "\nUNION ALL\n".join(
        f"""SELECT '{tbl}' AS tbl, '{a}' AS det, '{b}' AS dep,
       COUNT(DISTINCT {a}) AS n_keys,
       COUNT(DISTINCT ({a}, {b})) AS n_pairs
FROM {tbl}"""
        for tbl, a, b in _Q70_PAIRS
    )
    return f"""
WITH m AS (
{blocks}
)
SELECT tbl, det, dep, n_keys, n_pairs,
       CAST(n_keys AS DOUBLE) / n_pairs AS fd_strength,
       CAST(n_pairs - n_keys AS BIGINT) AS n_extra_mappings,
       CAST(n_keys = n_pairs AS INT) AS fd_holds
FROM m
ORDER BY tbl, det, dep
"""


@register("q70_fd_profile", oracle=_q70_oracle())
def q70_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = []
    for tbl, a, b in _Q70_PAIRS:
        rel = t(spark, sf_dir, tbl)
        frames.append(
            rel.agg(
                F.countDistinct(a).alias("n_keys"),
                F.countDistinct(a, b).alias("n_pairs"),
            ).select(
                F.lit(tbl).alias("tbl"),
                F.lit(a).alias("det"),
                F.lit(b).alias("dep"),
                "n_keys",
                "n_pairs",
            )
        )
    m = frames[0]
    for f_ in frames[1:]:
        m = m.unionByName(f_)
    return (
        m.select(
            "tbl", "det", "dep", "n_keys", "n_pairs",
            (F.col("n_keys").cast("double") / F.col("n_pairs")).alias("fd_strength"),
            (F.col("n_pairs") - F.col("n_keys")).cast("bigint").alias("n_extra_mappings"),
            (F.col("n_keys") == F.col("n_pairs")).cast("int").alias("fd_holds"),
        )
        .orderBy("tbl", "det", "dep")
    )


# ---- q71: Benford first-digit audit ------------------------------------------
# The forensic-accounting staple: naturally-occurring money amounts follow
# Benford's law (P(d) = log10(1 + 1/d)); fabricated or capped data does
# not. First digit is taken from the INTEGER cents string (double
# formatting differs across engines; integer-string leading chars do
# not), expected shares are inlined constants (same literal in both
# engines), and the chi-square contribution per digit is one double
# expression of exact integers. One scan, 9-row output.

import math as _math

_Q71_EXPECTED = {d: round(_math.log10(1 + 1 / d), 9) for d in range(1, 10)}


def _q71_case(expr: str) -> str:
    return " ".join(f"WHEN {d} THEN {_Q71_EXPECTED[d]!r}" for d in range(1, 10))


_Q71_ORACLE = f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS d
  FROM orders WHERE o_totalprice > 0
),
counts AS (SELECT d, COUNT(*) AS n FROM digits GROUP BY d),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts)
SELECT d AS digit, n AS n_values,
       CAST(n AS DOUBLE) / (SELECT total FROM tot) AS observed_share,
       CAST(CASE d {_q71_case('d')} END AS DOUBLE) AS benford_share,
       (CAST(n AS DOUBLE) / (SELECT total FROM tot) - CASE d {_q71_case('d')} END)
         * (CAST(n AS DOUBLE) / (SELECT total FROM tot) - CASE d {_q71_case('d')} END)
         / (CASE d {_q71_case('d')} END) AS chi2_term
FROM counts
ORDER BY d
"""


@register("q71_benford_digits", oracle=_Q71_ORACLE)
def q71_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digits = o.select(
        F.expr(
            # floor() in BOTH engines: bare CAST(double AS BIGINT) rounds
            # in DuckDB but truncates in Spark — different cents integers
            "CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) AS INT)"
        ).alias("d")
    )
    counts = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").cast("bigint").alias("total"))
    exp_map = F.create_map(
        *[x for dd in range(1, 10) for x in (F.lit(dd), F.lit(_Q71_EXPECTED[dd]))]
    )
    joined = counts.crossJoin(F.broadcast(tot))
    obs = F.col("n").cast("double") / F.col("total")
    exp = exp_map[F.col("d")].cast("double")
    return (
        joined.select(
            F.col("d").alias("digit"),
            F.col("n").alias("n_values"),
            obs.alias("observed_share"),
            exp.alias("benford_share"),
            ((obs - exp) * (obs - exp) / exp).alias("chi2_term"),
        )
        .orderBy("digit")
    )


# ---- q72: order shipment-span analysis (fulfillment latency) -----------------
# Supply-chain fulfillment health: per order priority, how long does an
# order take to ship COMPLETELY (days between its first and last lineitem
# ship date), and what share ships in one go? Exact integer day spans
# (epoch-day arithmetic on the min/max timestamps), decimal-exact
# averages (integer-sum / count), and a single-shipment share from exact
# counts. Scale: one lineitem aggregate keyed by order (partial-agg'd),
# a broadcast-joinable orders side, a priority-sized rollup.

_Q72_ORACLE = """
WITH spans AS (
  SELECT l_orderkey,
         CAST((epoch_us(MAX(l_shipdate)) - epoch_us(MIN(l_shipdate))) // 86400000000 AS BIGINT) AS span_days,
         COUNT(*) AS n_lines
  FROM lineitem GROUP BY l_orderkey
)
SELECT o.o_orderpriority AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM(s.span_days) AS BIGINT) AS total_span_days,
       CAST(SUM(s.span_days) AS DOUBLE) / COUNT(*) AS avg_span_days,
       CAST(SUM(CASE WHEN s.span_days = 0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS single_shipment_share,
       CAST(MAX(s.span_days) AS BIGINT) AS max_span_days
FROM spans s JOIN orders o ON o.o_orderkey = s.l_orderkey
GROUP BY o.o_orderpriority
ORDER BY priority
"""


@register("q72_shipment_span", oracle=_Q72_ORACLE)
def q72_shipment_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    spans = li.groupBy("l_orderkey").agg(
        F.expr(
            f"CAST(({_eus('MAX(l_shipdate)')} - {_eus('MIN(l_shipdate)')})"
            " DIV 86400000000 AS BIGINT)"
        ).alias("span_days"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return (
        spans.join(o, spans.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("span_days").cast("bigint").alias("total_span_days"),
            (F.sum("span_days").cast("double") / F.count(F.lit(1))).alias("avg_span_days"),
            (
                F.sum(F.when(F.col("span_days") == 0, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("single_shipment_share"),
            F.max("span_days").cast("bigint").alias("max_span_days"),
        )
        .orderBy("priority")
    )
