"""Relational surface, part 5: product/finance analytics + physical layout.

- q73 conversion funnel — chained conditional-min stages, one shuffle key
- q74 market-basket lift — basket-bounded self-join, exact-bp lift
- q75 mergeable-histogram quantile sketch vs exact percentiles
- q76 Z-order (Morton) clustered layout — footer-verified 2-D skipping
- q77 capped running balance — non-associative scan as two windows
- q78 CUPED-adjusted A/B readout — exact integer moments
- q79 KMV/theta set algebra — audience overlap from sketches alone
- q80 revenue bridge — price/volume/joint decomposition, exact cents
- q81 small-file compaction — the OPTIMIZE maintenance loop
- q82 top session paths — within-session event-type trigrams
- q83 KMV hierarchical merge — hourly sketches answering daily questions

Shared disciplines: every ratio is exact integer basis points (DIV; both
engines' integer division truncates identically), every money value is
integer cents/micros, per-row float quantities quantize half-up BEFORE
aggregation, and report-sized relations broadcast while corpus-shaped
relations never do.

Reference parity: the reference ships arbitrary SQL to a warehouse
(src/dbt_osmosis/core/sql_operations.py — execute_sql_code); these are
engine-side members of that query surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_osmosis_spark.functions.timeutil import epoch_us_sql as _eus
from dbt_osmosis_spark.operators import register
from dbt_osmosis_spark.operators.relational import t
from dbt_osmosis_spark.sources.parquet import _scratch_path, read_layout

# --------------------------------------------------------------------------
# q73: ordered conversion funnel — chained conditional-min aggregates
# --------------------------------------------------------------------------
# Step k's timestamp is the earliest event of its type AT OR AFTER step
# k-1's timestamp for that user. Each stage is:
#   filter(event_type) → join(prev stage, user_id) → filter(ts >= prev_t)
#   → groupBy(user_id).min(ts)
# The event table is scanned once per stage but each scan is
# filter-pushed to one event type (~1/5 of rows), and every exchange is
# on user_id. Counts are folded into a 3-row report with conversion in
# basis points of step 1 (exact integer DIV; NULLIF guards an empty
# funnel head).

_Q73_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts >= v.t1
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.t2
  GROUP BY e.user_id
),
steps AS (
  SELECT '1_view' AS step, COUNT(*) AS n_users FROM v
  UNION ALL SELECT '2_click', COUNT(*) FROM c
  UNION ALL SELECT '3_purchase', COUNT(*) FROM p
),
base AS (SELECT n_users AS base_n FROM steps WHERE step = '1_view')
SELECT step, n_users,
       n_users * 10000 // NULLIF(base_n, 0) AS pct_bp
FROM steps CROSS JOIN base
ORDER BY step
"""


@register("q73_funnel", oracle=_Q73_ORACLE)
def q73_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")

    def stage(event_type: str, prev: DataFrame | None, prev_t: str, out_t: str) -> DataFrame:
        s = e.filter(F.col("event_type") == event_type)
        if prev is not None:
            s = s.join(prev, "user_id").filter(F.col("ts") >= F.col(prev_t))
        return s.groupBy("user_id").agg(F.min("ts").alias(out_t))

    v = stage("view", None, "", "t1")
    c = stage("click", v, "t1", "t2")
    p = stage("purchase", c, "t2", "t3")

    steps = (
        v.agg(F.count(F.lit(1)).alias("n_users")).withColumn("step", F.lit("1_view"))
        .unionByName(
            c.agg(F.count(F.lit(1)).alias("n_users")).withColumn("step", F.lit("2_click"))
        )
        .unionByName(
            p.agg(F.count(F.lit(1)).alias("n_users")).withColumn("step", F.lit("3_purchase"))
        )
    )
    base = (
        steps.filter(F.col("step") == "1_view")
        .select(F.col("n_users").alias("base_n"))
    )
    return (
        steps.crossJoin(F.broadcast(base))
        .select(
            "step",
            "n_users",
            F.expr("n_users * 10000 DIV nullif(base_n, 0)").alias("pct_bp"),
        )
        .orderBy("step")
    )


# --------------------------------------------------------------------------
# q74: market-basket support + lift — basket-bounded self-join
# --------------------------------------------------------------------------
# items = DISTINCT (order, part); the pair join is on l_orderkey with
# part_a < part_b, so each basket of size b contributes b·(b-1)/2 rows —
# bounded per key, never a cross-corpus product. Per-part frequencies are
# a part-dimension aggregate (broadcast: |part| ≪ |lineitem| at every
# scale). lift_bp = P(ab) / (P(a)·P(b)) in exact basis points:
# n_together · n_orders · 10000 DIV (cnt_a · cnt_b), all BIGINT. Pairs
# must co-occur in ≥2 baskets (random co-occurrence is noise), and the
# report is the deterministic top-100 by (n_together DESC, part_a,
# part_b) — TakeOrderedAndProject, not a global sort.

_Q74_ORACLE = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
no_ AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
pc AS (SELECT l_partkey, COUNT(*) AS cnt FROM items GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         COUNT(*) AS n_together
  FROM items a
  JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
)
SELECT part_a, part_b, n_together,
       n_together * n_orders * 10000 // (ca.cnt * cb.cnt) AS lift_bp
FROM pairs
CROSS JOIN no_
JOIN pc ca ON ca.l_partkey = part_a
JOIN pc cb ON cb.l_partkey = part_b
ORDER BY n_together DESC, part_a, part_b
LIMIT 100
"""


@register("q74_basket_lift", oracle=_Q74_ORACLE)
def q74_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = items.select(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    part_cnt = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    a = items.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_together"))
        .filter(F.col("n_together") >= 2)
    )
    ca = part_cnt.select(F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a"))
    cb = part_cnt.select(F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b"))
    return (
        pairs.crossJoin(F.broadcast(n_orders))
        .join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .select(
            "part_a",
            "part_b",
            "n_together",
            F.expr("n_together * n_orders * 10000 DIV (cnt_a * cnt_b)").alias("lift_bp"),
        )
        .orderBy(F.desc("n_together"), "part_a", "part_b")
        .limit(100)
    )


# --------------------------------------------------------------------------
# q75: mergeable-histogram quantile sketch, evaluated against exact
# --------------------------------------------------------------------------
# The fourth deterministic-sketch family (t22 Count-Min, q69 KMV, p12
# Bloom): a fixed-geometry equi-width histogram is THE practical
# distributed percentile structure — 256 counters per group merge by
# cell-wise addition (partial aggregation does it for free), where the
# exact percentile (q31x) must shuffle every value to its group. The
# estimate is the upper edge of the first bin whose running count
# reaches ceil(p·n) — a one-sided bound with error ≤ one bin width.
# Reported against the exact interpolated percentile with relative
# error; geometry is deterministic (per-group min/max bounds from one
# aggregate), so the whole evaluation is engine-exact: the only floats
# are identical IEEE expressions on both sides, absorbed by round(·, 6)
# (the t19 discipline). The cumulative pass runs per group over ≤256
# histogram rows — never over the data.

_Q75_BINS = 256
_Q75_PCTS = (50, 95, 99)

_Q75_ORACLE = f"""
WITH bounds AS (
  SELECT l_returnflag AS flag, MIN(l_extendedprice) AS lo,
         MAX(l_extendedprice) AS hi, COUNT(*) AS n
  FROM lineitem GROUP BY l_returnflag
),
binned AS (
  SELECT b.flag,
         least({_Q75_BINS - 1}, CAST(floor((l_extendedprice - lo) * {_Q75_BINS} / (hi - lo)) AS BIGINT)) AS bin,
         COUNT(*) AS c
  FROM lineitem l JOIN bounds b ON b.flag = l.l_returnflag
  GROUP BY 1, 2
),
cum AS (
  SELECT flag, bin, SUM(c) OVER (PARTITION BY flag ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
  FROM binned
),
pcts AS ({' UNION ALL '.join(f"SELECT CAST({p} AS INT) AS pct" for p in _Q75_PCTS)}),
est AS (
  SELECT c.flag, p.pct, MIN(c.bin) AS est_bin
  FROM cum c
  JOIN bounds b ON b.flag = c.flag
  CROSS JOIN pcts p
  WHERE c.running >= (b.n * p.pct + 99) // 100
  GROUP BY c.flag, p.pct
),
exact AS (
  SELECT l_returnflag AS flag,
         {', '.join(f"quantile_cont(l_extendedprice, {p / 100}) AS e{p}" for p in _Q75_PCTS)}
  FROM lineitem GROUP BY l_returnflag
),
emelt AS (
  {' UNION ALL '.join(f"SELECT flag, CAST({p} AS INT) AS pct, e{p} AS exact_v FROM exact" for p in _Q75_PCTS)}
)
SELECT e.flag AS l_returnflag, e.pct AS pct,
       round(b.lo + (e.est_bin + 1) * (b.hi - b.lo) / {_Q75_BINS}, 6) AS est_v,
       round(m.exact_v, 6) AS exact_v,
       round(abs((b.lo + (e.est_bin + 1) * (b.hi - b.lo) / {_Q75_BINS}) - m.exact_v)
             / m.exact_v, 6) AS rel_err
FROM est e
JOIN bounds b ON b.flag = e.flag
JOIN emelt m ON m.flag = e.flag AND m.pct = e.pct
ORDER BY l_returnflag, e.pct
"""


@register("q75_histogram_quantile_eval", oracle=_Q75_ORACLE)
def q75_histogram_quantile_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    bounds = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    binned = (
        li.select(F.col("l_returnflag").alias("flag"), "l_extendedprice")
        .join(F.broadcast(bounds), "flag")
        .select(
            "flag",
            F.expr(
                f"least({_Q75_BINS - 1},"
                f" CAST(floor((l_extendedprice - lo) * {_Q75_BINS} / (hi - lo)) AS BIGINT))"
            ).alias("bin"),
        )
        .groupBy("flag", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from pyspark.sql.window import Window as W

    run = (
        W.partitionBy("flag")
        .orderBy("bin")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = binned.withColumn("running", F.sum("c").over(run))
    pcts = spark.createDataFrame([(p,) for p in _Q75_PCTS], "pct int")
    est = (
        cum.join(F.broadcast(bounds), "flag")
        .crossJoin(F.broadcast(pcts))
        .filter(F.col("running") >= F.expr("(n * pct + 99) DIV 100"))
        .groupBy("flag", "pct")
        .agg(F.min("bin").alias("est_bin"))
    )
    exact = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        *[
            F.expr(f"percentile(l_extendedprice, {p / 100})").alias(f"e{p}")
            for p in _Q75_PCTS
        ]
    )
    melt = ", ".join(
        f"struct(CAST({p} AS INT) AS pct, e{p} AS exact_v)" for p in _Q75_PCTS
    )
    emelt = exact.select(
        "flag", F.explode(F.expr(f"array({melt})")).alias("x")
    ).select("flag", "x.pct", "x.exact_v")
    est_v = F.expr(f"lo + (est_bin + 1) * (hi - lo) / {_Q75_BINS}")
    return (
        est.join(F.broadcast(bounds), "flag")
        .join(F.broadcast(emelt), ["flag", "pct"])
        .select(
            F.col("flag").alias("l_returnflag"),
            "pct",
            F.round(est_v, 6).alias("est_v"),
            F.round("exact_v", 6).alias("exact_v"),
            F.round(F.abs(est_v - F.col("exact_v")) / F.col("exact_v"), 6).alias(
                "rel_err"
            ),
        )
        .orderBy("l_returnflag", "pct")
    )


# --------------------------------------------------------------------------
# q76: Z-order (Morton curve) layout — multi-dimensional file skipping
# --------------------------------------------------------------------------
# q62 prunes on ONE dimension (directory partitions); zone maps (sort_by)
# skip on ONE sort key. Queries that filter on TWO dimensions at once
# (user AND time-of-day here; tenant AND date in production) defeat both:
# a linear sort on user leaves every file spanning all hours. The Z-order
# layout interleaves the bits of both keys into one Morton value and
# range-partitions + sorts on it, so every FILE covers a small rectangle
# in (user, hour) space and parquet min/max stats skip it for any query
# touching neither range — the standard lakehouse clustering lever
# (Delta/Iceberg `OPTIMIZE ZORDER BY`), built here from plain Spark
# primitives: a JVM-side bit-interleave expression, repartitionByRange,
# sortWithinPartitions. The registered result is the two-dimensional
# filtered aggregate read BACK from the layout — layout invariance is the
# oracle (plain SQL over the raw table), and the bounding-box shrinkage
# vs a linear sort is asserted from real parquet footers in pytest.

_Q76_FILES = 32
_Q76_UMAX = 200  # user predicate: user_id < 200 (present at every SF)
_Q76_H1, _Q76_H2 = 9, 17
_Q76_BITS = 5  # both dims normalized to 5 bits -> 10-bit Morton values

# Morton interleave of two normalized 5-bit keys: ub bit i -> position 2i,
# hb bit i -> position 2i+1. Normalization is the part naive Z-order
# implementations skip and then wonder why it degenerates: interleaving
# RAW values puts all the entropy of the wider key in the high bits and
# the curve collapses to a linear sort. Both keys are first scaled to the
# same bit width from in-plan global bounds (broadcast 1-row aggregate).
_Q76_ZEXPR = (
    f"aggregate(sequence(0, {_Q76_BITS - 1}), CAST(0 AS BIGINT), (acc, i) -> acc"
    " + (shiftleft(shiftright(ub, i) % 2, 2 * i))"
    " + (shiftleft(shiftright(hb, i) % 2, 2 * i + 1)))"
)

_Q76_ORACLE = f"""
SELECT CAST(hour(ts) AS INT) AS hr, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
FROM events
WHERE user_id < {_Q76_UMAX} AND hour(ts) BETWEEN {_Q76_H1} AND {_Q76_H2}
GROUP BY hour(ts)
ORDER BY hr
"""

import os as _os  # noqa: E402


def _q76_layout_path(sf_dir: str) -> str:
    return _scratch_path(".events_zorder", sf_dir, "q76")


def build_zorder_events(spark: SparkSession, sf_dir: str) -> str:
    path = _q76_layout_path(sf_dir)
    ev = t(spark, sf_dir, "events").withColumn("hr", F.hour("ts").cast("bigint"))
    bounds = ev.agg(
        F.min("user_id").alias("umin"),
        (F.max("user_id") - F.min("user_id") + 1).alias("uspan"),
    )
    scale = 1 << _Q76_BITS
    zed = (
        ev.crossJoin(F.broadcast(bounds))
        .withColumn("ub", F.expr(f"(user_id - umin) * {scale} DIV uspan"))
        .withColumn("hb", F.expr(f"hr * {scale} DIV 24"))
        .withColumn("zval", F.expr(_Q76_ZEXPR))
    )
    (
        zed.repartitionByRange(_Q76_FILES, "zval")
        .sortWithinPartitions("zval")
        .drop("ub", "hb", "zval", "umin", "uspan")
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


@register("q76_zorder_layout", oracle=_Q76_ORACLE)
def q76_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    build_zorder_events(spark, sf_dir)
    ev = read_layout(spark, _q76_layout_path(sf_dir))
    from dbt_osmosis_spark.functions.numeric import dec_sum as _ds

    return (
        ev.filter(
            (F.col("user_id") < _Q76_UMAX)
            & F.col("hr").between(_Q76_H1, _Q76_H2)
        )
        .groupBy(F.col("hr").cast("int").alias("hr"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _ds("value", scale=6).alias("total_value"),
        )
        .orderBy("hr")
    )


# --------------------------------------------------------------------------
# q77: capped-at-zero running balance — a non-associative scan, distributed
# --------------------------------------------------------------------------
# B_i = max(0, B_{i-1} + d_i) is the inventory/wallet/credit-ledger
# recurrence, and it is NOT a plain prefix sum — the clamp makes the scan
# non-associative, which is why most engines punt it to a per-key UDF
# loop. It is nonetheless window-expressible through the identity
#   B_i = S_i − min(0, min_{j≤i} S_j)
# (S = unclamped prefix sum): clamping only ever "forgives" the deepest
# debt seen so far. Proof by induction is four lines (docstring of record:
# if S_i sets a new sub-zero minimum the balance is 0 = S_i − S_i; else
# the forgiven amount is unchanged). So the whole operator is two window
# functions over (user, ts, event_id) — per-user-keyed, shuffle-once,
# scalable anywhere windows are — with deltas in exact BIGINT micros so
# the clamp-boundary comparisons are bit-identical in both engines (a
# decimal formulation measurably drifted: DuckDB's windowed decimal SUM
# goes through double). Floor hits (rows that set a new sub-zero
# minimum = moments the ledger actually clamped) fall out of the same
# windows for free.
# Credits = purchase value, debits = error value (the synthetic stream's
# stand-ins for deposit/chargeback); other events carry zero delta but
# stay in the order book, exactly as a real ledger scan would see them.

_Q77_ORACLE = """
WITH deltas AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN CAST(round(value * 1e6) AS BIGINT)
              WHEN event_type = 'error' THEN -CAST(round(value * 1e6) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS d
  FROM events
),
sums AS (
  SELECT user_id, ts, event_id,
         CAST(SUM(d) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s
  FROM deltas
),
scans AS (
  SELECT user_id, ts, event_id, s,
         CAST(COALESCE(MIN(s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev_min
  FROM sums
),
marked AS (
  SELECT user_id, s,
         least(CAST(0 AS BIGINT), least(prev_min, s)) AS run_min,
         CASE WHEN s < least(CAST(0 AS BIGINT), prev_min) THEN 1 ELSE 0 END AS floor_hit,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM scans
)
SELECT user_id,
       CAST(SUM(CASE WHEN rn = 1 THEN s - run_min END) AS BIGINT) AS final_balance_u,
       CAST(SUM(floor_hit) AS BIGINT) AS n_floor_hits
FROM marked
GROUP BY user_id
ORDER BY user_id
"""


@register("q77_capped_running_balance", oracle=_Q77_ORACLE)
def q77_capped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    e = t(spark, sf_dir, "events")
    # exact integer micros: the scan's comparisons (clamp boundaries!)
    # must be bit-exact in both engines — BIGINT sums/mins, no decimals
    d = (
        F.when(F.col("event_type") == "purchase", F.expr("CAST(round(value * 1e6) AS BIGINT)"))
        .when(F.col("event_type") == "error", F.expr("-CAST(round(value * 1e6) AS BIGINT)"))
        .otherwise(F.lit(0).cast("bigint"))
    )
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = order.rowsBetween(W.unboundedPreceding, W.currentRow)
    prev = order.rowsBetween(W.unboundedPreceding, -1)
    zero = F.lit(0).cast("bigint")
    scans = (
        e.select("user_id", "ts", "event_id", d.alias("d"))
        .withColumn("s", F.sum("d").over(run).cast("bigint"))
        .withColumn("prev_min", F.coalesce(F.min(F.col("s")).over(prev), zero).cast("bigint"))
    )
    marked = scans.select(
        "user_id",
        "s",
        F.least(zero, F.least(F.col("prev_min"), F.col("s"))).alias("run_min"),
        F.when(F.col("s") < F.least(zero, F.col("prev_min")), 1).otherwise(0).alias("floor_hit"),
        F.row_number().over(W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))).alias("rn"),
    )
    return (
        marked.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("rn") == 1, F.col("s") - F.col("run_min")))
            .cast("bigint")
            .alias("final_balance_u"),
            F.sum("floor_hit").cast("bigint").alias("n_floor_hits"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# q78: CUPED-adjusted A/B comparison — variance reduction, engine-exact
# --------------------------------------------------------------------------
# CUPED (Deng et al., WSDM 2013) is the experimentation-platform
# workhorse: adjust each unit's experiment-period metric y by its
# PRE-period metric x, y_adj = y − θ(x − x̄) with θ = cov(x,y)/var(x),
# shrinking variance without biasing the treatment contrast. The
# distributed shape is three aggregates: per-user (x, y) sums (one
# shuffle on user_id), pooled second moments (5 numbers), per-variant
# adjusted means. Determinism discipline: per-user metrics are exact
# BIGINT cents; θ comes from exact integer moment sums via single IEEE
# expressions (identical in both engines); per-user adjusted values are
# half-up-quantized at 1e4 BEFORE the variant sum, so the final means
# are integer-exact regardless of accumulation order. The pre/post
# split is the corpus time midpoint in exact EPOCH MICROS from an
# in-plan 1-row bounds aggregate (timestamp-interval halving drifts
# across engines; integer midpoint cannot); variant assignment is the
# user-id parity stand-in for a real bucketing column.

_Q78_ORACLE = """
WITH bounds AS (
  SELECT MIN(epoch_us(ts)) AS lo_us, MAX(epoch_us(ts)) AS hi_us FROM events
),
mid AS (SELECT (lo_us + hi_us) // 2 AS m_us FROM bounds),
per_user AS (
  SELECT user_id, user_id % 2 AS variant,
         CAST((SUM(CASE WHEN epoch_us(ts) < m_us THEN CAST(round(value * 1e6) AS BIGINT) ELSE 0 END) + 5000) // 10000 AS BIGINT) AS x_c,
         CAST((SUM(CASE WHEN epoch_us(ts) >= m_us THEN CAST(round(value * 1e6) AS BIGINT) ELSE 0 END) + 5000) // 10000 AS BIGINT) AS y_c
  FROM events CROSS JOIN mid
  GROUP BY user_id
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x_c) AS BIGINT) AS sx, CAST(SUM(y_c) AS BIGINT) AS sy,
         CAST(SUM(x_c * x_c) AS BIGINT) AS sxx, CAST(SUM(x_c * y_c) AS BIGINT) AS sxy
  FROM per_user
),
theta AS (
  -- products computed in DOUBLE from the exact BIGINT sums: n*sxy
  -- overflows BIGINT at ~10x scale (measured), and identical integer
  -- inputs give identical IEEE products in both engines
  SELECT n, sx, sy,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS th,
         CAST(sx AS DOUBLE) / n AS xbar
  FROM mom
),
adj AS (
  SELECT variant,
         CAST(floor((y_c - th * (x_c - xbar)) * 1e4 + 0.5) AS BIGINT) AS adj_q,
         y_c
  FROM per_user CROSS JOIN theta
)
SELECT variant,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(y_c) AS BIGINT) * 100 // COUNT(*) AS mean_y_centicents,
       CAST(SUM(adj_q) AS BIGINT) // COUNT(*) AS mean_y_adj_q
FROM adj
GROUP BY variant
ORDER BY variant
"""


@register("q78_cuped_adjusted_ab", oracle=_Q78_ORACLE)
def q78_cuped_adjusted_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    bounds = e.agg(
        F.expr(f"MIN({_eus('ts')})").alias("lo_us"),
        F.expr(f"MAX({_eus('ts')})").alias("hi_us"),
    ).selectExpr("(lo_us + hi_us) DIV 2 AS m_us")
    # Sign-aware half-up cents: floor((s + 5000) / 10000) as pure-BIGINT
    # floor division (pmod is non-negative), matching DuckDB's `//` which
    # floors. Spark's bare DIV truncates toward zero, which would round
    # a -14999-micro sum to 0 cents instead of -1 if a debit-style event
    # type ever carried a negative value.
    cents = (
        "CAST(((SUM(CASE WHEN {cmp} THEN CAST(round(value * 1e6) AS BIGINT)"
        " ELSE 0 END) + 5000)"
        " - pmod(SUM(CASE WHEN {cmp} THEN CAST(round(value * 1e6) AS BIGINT)"
        " ELSE 0 END) + 5000, 10000)) DIV 10000 AS BIGINT)"
    )
    per_user = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.expr(cents.format(cmp=f"{_eus('ts')} < m_us")).alias("x_c"),
            F.expr(cents.format(cmp=f"{_eus('ts')} >= m_us")).alias("y_c"),
        )
        .withColumn("variant", F.expr("user_id % 2"))
    )
    mom = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x_c").cast("bigint").alias("sx"),
        F.sum("y_c").cast("bigint").alias("sy"),
        F.sum(F.expr("x_c * x_c")).cast("bigint").alias("sxx"),
        F.sum(F.expr("x_c * y_c")).cast("bigint").alias("sxy"),
    ).selectExpr(
        # DOUBLE products of exact BIGINT sums — n*sxy overflows BIGINT
        # at ~10x (caught by the scale probe); same ints -> same doubles
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS th",
        "CAST(sx AS DOUBLE) / n AS xbar",
    )
    adj = per_user.crossJoin(F.broadcast(mom)).select(
        "variant",
        "y_c",
        F.expr("CAST(floor((y_c - th * (x_c - xbar)) * 1e4 + 0.5) AS BIGINT)").alias(
            "adj_q"
        ),
    )
    return (
        adj.groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.expr("CAST(SUM(y_c) AS BIGINT) * 100 DIV COUNT(*)").alias(
                "mean_y_centicents"
            ),
            F.expr("CAST(SUM(adj_q) AS BIGINT) DIV COUNT(*)").alias("mean_y_adj_q"),
        )
        .orderBy("variant")
    )


# --------------------------------------------------------------------------
# q79: KMV/theta set algebra — audience overlap without scanning
# --------------------------------------------------------------------------
# q69 proves the KMV sketch estimates ONE set's cardinality; the reason
# warehouses keep theta sketches (Dasgupta et al., "Theta Sketch
# Framework") is SET ALGEBRA: union and intersection sizes of audiences
# from the tiny sketches alone — "how many users both clicked and
# purchased" across arbitrary segment pairs with no re-scan. Mechanics:
# cut both sketches to θ = min(θ_A, θ_B); hashes below θ form a uniform
# sample of each set, so |union est| = |S_A ∪ S_B| · 2^60 / θ and
# |inter est| = |S_A ∩ S_B| · 2^60 / θ. Everything after the one
# (type, user) dedup shuffle operates on ≤ k·|types| rows; the pairwise
# stage is a broadcast join of 5-row/64-row relations. Estimates are
# deterministic doubles (same integer hashes, same single division);
# exact counterparts come from the same deduped key relation. Shares
# q69's hash derivation verbatim, so the two sketch operators can never
# drift.

from dbt_osmosis_spark.operators.relational_ext3 import (  # noqa: E402
    _Q69_DUCK_H,
    _Q69_SPARK_H,
)
from dbt_osmosis_spark.operators.caching import keep_cached  # noqa: E402

_Q79_K = 64
_Q79_SPACE = float(1 << 60)

_Q79_ORACLE = f"""
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
sk AS (SELECT event_type, h FROM ranked WHERE rk <= {_Q79_K}),
hk AS (SELECT event_type, MAX(h) AS hk FROM sk GROUP BY event_type),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         least(a.hk, b.hk) AS theta
  FROM hk a JOIN hk b ON a.event_type < b.event_type
),
union_s AS (
  SELECT p.type_a, p.type_b, COUNT(DISTINCT s.h) AS nu
  FROM pairs p JOIN sk s
    ON s.event_type IN (p.type_a, p.type_b) AND s.h < p.theta
  GROUP BY p.type_a, p.type_b
),
inter_s AS (
  SELECT p.type_a, p.type_b, COUNT(*) AS ni
  FROM pairs p
  JOIN sk sa ON sa.event_type = p.type_a AND sa.h < p.theta
  JOIN sk sb ON sb.event_type = p.type_b AND sb.h = sa.h
  GROUP BY p.type_a, p.type_b
),
ex_inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS exact_inter
  FROM keys a JOIN keys b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
ex_n AS (SELECT event_type, COUNT(*) AS n FROM keys GROUP BY event_type)
SELECT p.type_a, p.type_b,
       CAST(na.n + nb.n - COALESCE(x.exact_inter, 0) AS BIGINT) AS exact_union,
       round(u.nu * {_Q79_SPACE!r} / p.theta, 4) AS est_union,
       CAST(COALESCE(x.exact_inter, 0) AS BIGINT) AS exact_inter,
       round(COALESCE(i.ni, 0) * {_Q79_SPACE!r} / p.theta, 4) AS est_inter
FROM pairs p
JOIN ex_n na ON na.event_type = p.type_a
JOIN ex_n nb ON nb.event_type = p.type_b
LEFT JOIN ex_inter x ON x.type_a = p.type_a AND x.type_b = p.type_b
JOIN union_s u ON u.type_a = p.type_a AND u.type_b = p.type_b
LEFT JOIN inter_s i ON i.type_a = p.type_a AND i.type_b = p.type_b
ORDER BY p.type_a, p.type_b
"""


@register("q79_kmv_set_algebra", oracle=_Q79_ORACLE)
def q79_kmv_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    e = t(spark, sf_dir, "events")
    keys = e.select("event_type", "user_id").distinct()
    hashed = keys.select("event_type", F.expr(_Q69_SPARK_H).alias("h"))
    rk = F.row_number().over(W.partitionBy("event_type").orderBy("h"))
    sk = (
        hashed.withColumn("rk", rk).filter(F.col("rk") <= _Q79_K).select("event_type", "h")
    ).transform(keep_cached)
    hk = sk.groupBy("event_type").agg(F.max("h").alias("hk"))
    a = hk.select(F.col("event_type").alias("type_a"), F.col("hk").alias("hka"))
    b = hk.select(F.col("event_type").alias("type_b"), F.col("hk").alias("hkb"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("type_a") < F.col("type_b"))
        .select("type_a", "type_b", F.least("hka", "hkb").alias("theta"))
    )
    union_s = (
        pairs.join(
            F.broadcast(sk),
            (F.col("event_type").isin(F.col("type_a"), F.col("type_b")))
            & (F.col("h") < F.col("theta")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.countDistinct("h").alias("nu"))
    )
    sa = sk.select(F.col("event_type").alias("type_a"), F.col("h").alias("ha"))
    sb = sk.select(F.col("event_type").alias("type_b"), F.col("h").alias("hb"))
    inter_s = (
        pairs.join(F.broadcast(sa), "type_a")
        .filter(F.col("ha") < F.col("theta"))
        .join(F.broadcast(sb), ["type_b"])
        .filter(F.col("hb") == F.col("ha"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    ka = keys.select(F.col("event_type").alias("type_a"), "user_id")
    kb = keys.select(F.col("event_type").alias("type_b"), "user_id")
    ex_inter = (
        ka.join(kb, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    ex_n = keys.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    na = ex_n.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    nb = ex_n.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .join(F.broadcast(ex_inter), ["type_a", "type_b"], "left")
        .join(F.broadcast(union_s), ["type_a", "type_b"])
        .join(F.broadcast(inter_s), ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            F.expr("CAST(na + nb - COALESCE(exact_inter, 0) AS BIGINT)").alias(
                "exact_union"
            ),
            F.round(F.col("nu") * F.lit(_Q79_SPACE) / F.col("theta"), 4).alias(
                "est_union"
            ),
            F.expr("CAST(COALESCE(exact_inter, 0) AS BIGINT)").alias("exact_inter"),
            F.round(
                F.expr("COALESCE(ni, 0)") * F.lit(_Q79_SPACE) / F.col("theta"), 4
            ).alias("est_inter"),
        )
        .orderBy("type_a", "type_b")
    )


# --------------------------------------------------------------------------
# q80: revenue bridge — period-over-period price/volume/mix decomposition
# --------------------------------------------------------------------------
# The finance-analytics staple: revenue moved ΔR between two periods;
# HOW MUCH of that is volume (quantity change at old prices), how much
# is price (price change at old volumes), and how much is the joint
# term? Per part present in both periods:
#   ΔR = (q2−q1)·p1  +  (p2−p1)·q1  +  (q2−q1)·(p2−p1)
# (an exact identity — the three effects reconcile to the delta by
# construction, asserted in pytest). Parts entering/exiting between the
# periods are their own bridge lines (new-product / discontinued).
# Shape: one scan → per-(part, period) aggregates → a part-keyed
# self-join of the two period slices → a 5-row rollup. All money is
# exact integer CENTS (quantity-weighted average price in exact
# cent-per-milli-unit rationals would drift — instead the identity is
# evaluated on period totals: volume effect = r1·(q2−q1)/q1 needs no
# division either when rewritten on totals: q2·(r1/q1) ... avoided
# entirely by decomposing on AVERAGE PRICE in exact cents-per-unit
# scaled integers: p = r·SCALE DIV q with the residual carried by the
# joint term, keeping the reconciliation EXACT in integers).

_Q80_Y1, _Q80_Y2 = 1997, 1998
_Q80_PSCALE = 1_000_000  # price = cents-per-unit x 1e6, integer

_Q80_ORACLE = f"""
WITH base AS (
  SELECT l_partkey AS part, year(l_shipdate) AS y,
         CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS r_cents
  FROM lineitem
  WHERE year(l_shipdate) IN ({_Q80_Y1}, {_Q80_Y2})
  GROUP BY 1, 2
),
p1 AS (SELECT part, q AS q1, r_cents AS r1 FROM base WHERE y = {_Q80_Y1}),
p2 AS (SELECT part, q AS q2, r_cents AS r2 FROM base WHERE y = {_Q80_Y2}),
both_ AS (
  SELECT a.part, q1, r1, q2, r2,
         r1 * {_Q80_PSCALE} // q1 AS pp1,
         r2 * {_Q80_PSCALE} // q2 AS pp2
  FROM p1 a JOIN p2 b ON a.part = b.part
),
eff AS (
  SELECT part,
         (q2 - q1) * pp1 AS vol_eff_s,
         (pp2 - pp1) * q1 AS price_eff_s,
         (q2 - q1) * (pp2 - pp1) AS joint_eff_s,
         -- integer-division residual of both periods, so the bridge
         -- reconciles EXACTLY: r = q*pp/S + rem
         (r2 * {_Q80_PSCALE} - q2 * pp2) - (r1 * {_Q80_PSCALE} - q1 * pp1) AS resid_s,
         r2 - r1 AS delta_cents
  FROM both_
),
lines AS (
  SELECT '1_volume' AS bridge_line, CAST(SUM(vol_eff_s) AS BIGINT) AS amount_s FROM eff
  UNION ALL SELECT '2_price', CAST(SUM(price_eff_s) AS BIGINT) FROM eff
  UNION ALL SELECT '3_joint', CAST(SUM(joint_eff_s) AS BIGINT) FROM eff
  UNION ALL SELECT '4_rounding', CAST(SUM(resid_s) AS BIGINT) FROM eff
  UNION ALL
  SELECT '5_new_parts', CAST(SUM(r_cents) AS BIGINT) * {_Q80_PSCALE}
  FROM base WHERE y = {_Q80_Y2}
    AND part NOT IN (SELECT part FROM p1)
  UNION ALL
  SELECT '6_exited_parts', -CAST(SUM(r_cents) AS BIGINT) * {_Q80_PSCALE}
  FROM base WHERE y = {_Q80_Y1}
    AND part NOT IN (SELECT part FROM p2)
)
SELECT bridge_line, amount_s // {_Q80_PSCALE} AS amount_cents
FROM lines
ORDER BY bridge_line
"""


@register("q80_revenue_bridge", oracle=_Q80_ORACLE)
def q80_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    base = (
        li.filter(F.expr(f"year(l_shipdate) IN ({_Q80_Y1}, {_Q80_Y2})"))
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.expr("year(l_shipdate)").alias("y"),
        )
        .agg(
            F.expr("CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)").alias("q"),
            F.expr(
                "CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)"
            ).alias("r_cents"),
        )
    ).transform(keep_cached)
    p1 = base.filter(F.col("y") == _Q80_Y1).select(
        "part", F.col("q").alias("q1"), F.col("r_cents").alias("r1")
    )
    p2 = base.filter(F.col("y") == _Q80_Y2).select(
        "part", F.col("q").alias("q2"), F.col("r_cents").alias("r2")
    )
    both = p1.join(p2, "part").selectExpr(
        "part",
        "q1",
        "r1",
        "q2",
        "r2",
        f"r1 * {_Q80_PSCALE} DIV q1 AS pp1",
        f"r2 * {_Q80_PSCALE} DIV q2 AS pp2",
    )
    eff = both.selectExpr(
        "(q2 - q1) * pp1 AS vol_eff_s",
        "(pp2 - pp1) * q1 AS price_eff_s",
        "(q2 - q1) * (pp2 - pp1) AS joint_eff_s",
        f"(r2 * {_Q80_PSCALE} - q2 * pp2) - (r1 * {_Q80_PSCALE} - q1 * pp1) AS resid_s",
    )
    sums = eff.agg(
        F.sum("vol_eff_s").cast("bigint").alias("v"),
        F.sum("price_eff_s").cast("bigint").alias("p"),
        F.sum("joint_eff_s").cast("bigint").alias("j"),
        F.sum("resid_s").cast("bigint").alias("rr"),
    )
    new_parts = (
        p2.join(p1.select("part"), "part", "left_anti")
        .agg((F.sum("r2").cast("bigint") * _Q80_PSCALE).alias("amount_s"))
        .select(F.lit("5_new_parts").alias("bridge_line"), "amount_s")
    )
    exited = (
        p1.join(p2.select("part"), "part", "left_anti")
        .agg((-F.sum("r1").cast("bigint") * _Q80_PSCALE).alias("amount_s"))
        .select(F.lit("6_exited_parts").alias("bridge_line"), "amount_s")
    )
    lines = sums.select(
        F.explode(
            F.expr(
                "array(struct('1_volume' AS bridge_line, v AS amount_s),"
                " struct('2_price' AS bridge_line, p AS amount_s),"
                " struct('3_joint' AS bridge_line, j AS amount_s),"
                " struct('4_rounding' AS bridge_line, rr AS amount_s))"
            )
        ).alias("x")
    ).select("x.bridge_line", "x.amount_s").unionByName(new_parts).unionByName(exited)
    # Negative totals are safe here: BOTH engines' integer division
    # truncates toward zero (Spark DIV and DuckDB's integer // alike —
    # verified; DuckDB floors only for floats), so the scaled lines
    # divide identically on either sign.
    return (
        lines.selectExpr(
            "bridge_line", f"amount_s DIV {_Q80_PSCALE} AS amount_cents"
        ).orderBy("bridge_line")
    )


# --------------------------------------------------------------------------
# q81: small-file compaction — the OPTIMIZE maintenance operator
# --------------------------------------------------------------------------
# Streaming sinks and incremental appends fragment tables into thousands
# of small files; every later scan then pays per-file open/footer/task
# overhead, which at 100 TB dominates real IO (the classic "small files
# problem"). This operator is the lakehouse OPTIMIZE loop from plain
# Spark primitives: measure the fragmented layout's byte size from the
# file index, size the output to ceil(bytes / target) files, rewrite
# with repartition, and serve from the compacted copy. The registered
# result is a data aggregate read back from the compacted layout, so the
# oracle is LAYOUT INVARIANCE (plain SQL over the raw table — compaction
# must never change query answers); the file-count/size contract is
# asserted from the real directory in pytest. Deterministic row
# placement is NOT part of the contract (any partitioning of the same
# rows is a valid compaction) — exactly why the check is a value oracle.

_Q81_TARGET_BYTES = 256 * 1024
_Q81_FRAGMENTS = 64

_Q81_ORACLE = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def _q81_paths(sf_dir: str) -> tuple[str, str]:
    base = _scratch_path(".events_compact", sf_dir, "q81")
    return _os.path.join(base, "frag"), _os.path.join(base, "compacted")


def compact_events(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Fragment (simulating a streaming sink's output), then compact to
    ~target-byte files sized from the REAL fragmented footprint."""
    import glob

    frag, compacted = _q81_paths(sf_dir)
    ev = t(spark, sf_dir, "events")
    ev.repartition(_Q81_FRAGMENTS).write.mode("overwrite").parquet(frag)
    frag_bytes = sum(
        _os.path.getsize(f) for f in glob.glob(f"{frag}/part-*.parquet")
    )
    n_out = max(1, -(-frag_bytes // _Q81_TARGET_BYTES))
    read_layout(spark, frag).repartition(n_out).write.mode("overwrite").parquet(
        compacted
    )
    return frag, compacted


@register("q81_compaction", oracle=_Q81_ORACLE)
def q81_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_osmosis_spark.functions.numeric import dec_sum as _ds

    _, compacted = compact_events(spark, sf_dir)
    return (
        read_layout(spark, compacted)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _ds("value", scale=6).alias("total_value"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q82: top session paths — within-session event-type trigrams
# --------------------------------------------------------------------------
# q60's transition matrix is first-order (pairs, memoryless); real UX
# analysis reads PATHS — the ordered event-type trigrams inside one
# session, ranked by frequency ("view→click→purchase" vs
# "view→error→view" tells a product team more than any pair does).
# Sessions are THE shared sessionization rule (session_break_flag);
# within a session the type sequence is collected in (ts, event_id)
# order via sorted-struct aggregation (order-independent across
# partitionings), trigrams explode map-side, and the report is the
# deterministic top-20 (TakeOrderedAndProject). Every exchange is on
# user/session-scale keys; the trigram space is |types|^3-bounded, so
# the final count table is tiny at any corpus size.

_Q82_TOPK = 20

_Q82_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new_session
  FROM events
),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM ordered
),
seqs AS (
  SELECT user_id, session_id,
         list(event_type ORDER BY ts, event_id) AS path
  FROM sess GROUP BY user_id, session_id
),
tris AS (
  SELECT path[i] || '>' || path[i + 1] || '>' || path[i + 2] AS tri
  FROM seqs, UNNEST(range(1, len(path) - 1)) AS t(i)
  WHERE len(path) >= 3
)
SELECT tri AS path3, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM tris GROUP BY tri
ORDER BY n_occurrences DESC, path3
LIMIT 20
"""


@register("q82_session_paths", oracle=_Q82_ORACLE)
def q82_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from dbt_osmosis_spark.operators.relational import session_break_flag

    e = t(spark, sf_dir, "events")
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = order.rowsBetween(W.unboundedPreceding, W.currentRow)
    sess = e.withColumn("is_new_session", session_break_flag(order)).withColumn(
        "session_id", F.sum("is_new_session").over(run)
    )
    seqs = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(ts, event_id, event_type))),"
                " s -> s.event_type)"
            ).alias("path")
        )
        .filter(F.size("path") >= 3)
    )
    tris = seqs.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(path) - 2), i ->"
                " concat(element_at(path, i), '>', element_at(path, i + 1),"
                " '>', element_at(path, i + 2)))"
            )
        ).alias("path3")
    )
    return (
        tris.groupBy("path3")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "path3")
        .limit(_Q82_TOPK)
    )


# --------------------------------------------------------------------------
# q83: KMV hierarchical merge — hourly sketches answering daily questions
# --------------------------------------------------------------------------
# The property that makes sketches a STORAGE format and not just a query
# trick: k-min-values sketches merge losslessly upward — the k smallest
# of a union equal the k smallest of the per-part k-min sets. So a
# pipeline that lands one tiny sketch per (hour) partition can answer
# distinct-user questions at ANY coarser grain (day, week, all-time)
# from the sketches alone, with the estimate IDENTICAL to what a direct
# sketch over the raw grain would produce — bit-for-bit, not
# approximately (asserted in pytest; the oracle computes the merge path
# and the registered result is hash-checked against it). Per day:
# exact distinct users, the merged-estimate, and the sketch row count.
# Shares q69's hash derivation; everything after the per-hour dedup
# shuffle is sketch-sized (24·k rows per day).

_Q83_K = 64
_Q83_SPACE = float(1 << 60)

_Q83_ORACLE = f"""
WITH keys AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, date_trunc('hour', ts) AS hour, user_id
  FROM events
),
hashed AS (SELECT day, hour, {_Q69_DUCK_H} AS h FROM keys),
hourly AS (
  SELECT day, hour, h,
         ROW_NUMBER() OVER (PARTITION BY hour ORDER BY h) AS rk
  FROM (SELECT DISTINCT day, hour, h FROM hashed)
),
hsk AS (SELECT day, hour, h FROM hourly WHERE rk <= {_Q83_K}),
merged AS (
  SELECT day, h,
         ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS rk
  FROM (SELECT DISTINCT day, h FROM hsk)
),
dsk AS (SELECT day, COUNT(*) AS n_kept, MAX(h) AS hk FROM merged WHERE rk <= {_Q83_K} GROUP BY day),
exact AS (
  SELECT day, COUNT(DISTINCT user_id) AS exact_distinct FROM keys GROUP BY day
)
SELECT e.day, CAST(e.exact_distinct AS BIGINT) AS exact_distinct,
       CASE WHEN s.n_kept < {_Q83_K} THEN CAST(s.n_kept AS DOUBLE)
            ELSE ({_Q83_K} - 1) * {_Q83_SPACE!r} / s.hk END AS merged_estimate,
       CAST(s.n_kept AS BIGINT) AS n_sketch_rows
FROM exact e JOIN dsk s ON s.day = e.day
ORDER BY e.day
"""


@register("q83_kmv_hierarchical_merge", oracle=_Q83_ORACLE)
def q83_kmv_hierarchical_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    e = t(spark, sf_dir, "events")
    keys = e.select(
        F.col("ts").cast("date").alias("day"),
        F.date_trunc("hour", "ts").alias("hour"),
        "user_id",
    ).distinct()
    hashed = keys.select(
        "day", "hour", F.expr(_Q69_SPARK_H).alias("h")
    ).distinct()
    hrk = F.row_number().over(W.partitionBy("hour").orderBy("h"))
    hsk = hashed.withColumn("rk", hrk).filter(F.col("rk") <= _Q83_K)
    mrk = F.row_number().over(W.partitionBy("day").orderBy("h"))
    merged = (
        hsk.select("day", "h")
        .distinct()
        .withColumn("rk", mrk)
        .filter(F.col("rk") <= _Q83_K)
    )
    dsk = merged.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("hk")
    )
    exact = keys.groupBy("day").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    est = (
        F.when(F.col("n_kept") < _Q83_K, F.col("n_kept").cast("double"))
        .otherwise(F.lit((_Q83_K - 1) * _Q83_SPACE) / F.col("hk"))
    )
    return (
        exact.join(dsk, "day")
        .select(
            "day",
            F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
            est.alias("merged_estimate"),
            F.col("n_kept").cast("bigint").alias("n_sketch_rows"),
        )
        .orderBy("day")
    )
