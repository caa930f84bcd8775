"""Temporal & advanced relational operators: as-of join, band (range)
join, sliding/range window frames, moment-based statistics, exact
discrete percentiles, argmax-per-group.

None of these exist in the reference engine (SURVEY.md §2.2 — its only
relational algebra is flatMap → groupByKey → reduce); they are the
operators a user of a modern analytics engine expects, each expressed
as a composition of built-in DataFrame ops so Catalyst keeps the whole
plan JVM-side.

Scale notes are attached per query; the common theme: every operator
here costs exactly ONE shuffle on its natural key (or zero, when the
joined side broadcasts), so all of them survive a 100 TB input as long
as no single key's group exceeds executor memory — and the keys used
(user_id, supplier, event_type) are either high-cardinality or
bounded-size groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from jobx_spark.functions import dsum, dsum_sql
from jobx_spark.sources import load_table, local_frame


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# q20: AS-OF join — for each purchase event, the most recent click by the
# same user at-or-before the purchase timestamp.
#
# Spark has no ASOF JOIN operator; the scalable formulation is the
# union-and-carry-forward pattern: tag both sides, sort within user, and
# carry the last click forward with last(..., ignorenulls) over a running
# row frame. Cost: ONE shuffle on user_id, no row explosion — unlike the
# naive range join (purchases × clicks then max), which is quadratic per
# user. At 100 TB this is the canonical formulation; clicks at the exact
# purchase timestamp are eligible (>= semantics) because the sort key
# places kind=0 (click) before kind=1 (purchase) on ties.
# --------------------------------------------------------------------------
def q20_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            "ts",
            F.lit(0).alias("kind"),
            F.lit(None).cast("bigint").alias("purchase_id"),
            F.lit(None).cast("double").alias("purchase_value"),
            F.col("ts").alias("click_ts"),
            F.col("value").alias("click_value"),
        )
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "ts",
            F.lit(1).alias("kind"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
            F.lit(None).cast("timestamp").alias("click_ts"),
            F.lit(None).cast("double").alias("click_value"),
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        clicks.unionByName(purchases)
        .withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .withColumn("last_click_value", F.last("click_value", ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select(
            "purchase_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "purchase_value",
            F.col("last_click_ts").alias("click_ts"),
            F.col("last_click_value").alias("click_value"),
            (F.unix_micros("ts") - F.unix_micros("last_click_ts")).alias("wait_us"),
        )
        .orderBy("purchase_id")
    )


# DuckDB has a native ASOF JOIN; using it makes the oracle genuinely
# independent of our formulation. events.ts is microsecond-unique per
# user in the testdata, so the match is unambiguous.
ORACLE_Q20 = """
SELECT p.event_id AS purchase_id,
       p.user_id AS user_id,
       p.ts AS purchase_ts,
       p.value AS purchase_value,
       c.ts AS click_ts,
       c.value AS click_value,
       epoch_us(p.ts) - epoch_us(c.ts) AS wait_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY purchase_id
"""


# --------------------------------------------------------------------------
# q21: band (range) join — non-equi theta join of orders against a tiny
# literal band dimension on lo <= price < hi. The band table broadcasts,
# so the physical plan is BroadcastNestedLoopJoin: zero shuffle for the
# join; the only exchange is the final ~5-group aggregation. This is the
# scalable shape for any small-dimension interval join (price bands, IP
# ranges, SLA tiers); for large×large interval joins the play is bucketed
# overlap keys, which q20's union pattern covers for the temporal case.
# --------------------------------------------------------------------------
_BANDS = [
    ("P0_under_100k", 0.0, 100_000.0),
    ("P1_100k_200k", 100_000.0, 200_000.0),
    ("P2_200k_300k", 200_000.0, 300_000.0),
    ("P3_300k_400k", 300_000.0, 400_000.0),
    ("P4_over_400k", 400_000.0, 1e18),
]


def q21_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    bands = local_frame(spark, _BANDS, "band string, lo double, hi double")
    return (
        orders.join(
            F.broadcast(bands),
            (orders.o_totalprice >= bands.lo) & (orders.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("total"),
        )
        .orderBy("band")
    )


_BANDS_VALUES = ", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _BANDS)
ORACLE_Q21 = f"""
SELECT band, count(*) AS n_orders, {dsum_sql('o_totalprice')} AS total
FROM orders
JOIN (VALUES {_BANDS_VALUES}) AS bands(band, lo, hi)
  ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band
ORDER BY band
"""


# --------------------------------------------------------------------------
# q22: sliding & range window frames — per supplier in ship order:
#   * moving sum of the last 4 rows (ROWS BETWEEN 3 PRECEDING);
#   * trailing-7-day sum (RANGE frame over epoch microseconds);
#   * lag/lead navigation.
# One shuffle on l_suppkey; frames evaluate in a single sorted pass per
# partition. Decimal sums keep the moving totals order-exact.
# --------------------------------------------------------------------------
def q22_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 5)
    order_cols = [F.col("l_shipdate"), F.col("l_orderkey"), F.col("l_linenumber")]
    wrows = (
        W.partitionBy("l_suppkey").orderBy(*order_cols).rowsBetween(-3, W.currentRow)
    )
    # l_shipdate loads as session-TZ TIMESTAMP (inferTimestampNTZ is
    # off); session TZ is pinned UTC, so epoch micros are stable.
    us = F.unix_micros(F.col("l_shipdate"))
    seven_days_us = 7 * 24 * 3600 * 1_000_000
    wrange = (
        W.partitionBy("l_suppkey").orderBy(us).rangeBetween(-seven_days_us, 0)
    )
    wnav = W.partitionBy("l_suppkey").orderBy(*order_cols)
    dec = F.col("l_quantity").cast("decimal(38,8)")
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        F.sum(dec).over(wrows).cast("string").cast("double").alias("moving4_qty"),
        F.sum(dec).over(wrange).cast("string").cast("double").alias("trailing7d_qty"),
        F.lag("l_quantity").over(wnav).alias("prev_qty"),
        F.lead("l_shipdate").over(wnav).alias("next_shipdate"),
    ).orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber")


ORACLE_Q22 = """
SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,8))) OVER (
            PARTITION BY l_suppkey
            ORDER BY l_shipdate, l_orderkey, l_linenumber
            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
            AS moving4_qty,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,8))) OVER (
            PARTITION BY l_suppkey
            ORDER BY epoch_us(l_shipdate)
            RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
            AS trailing7d_qty,
       lag(l_quantity) OVER w AS prev_qty,
       lead(l_shipdate) OVER w AS next_shipdate
FROM lineitem
WHERE l_suppkey <= 5
WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber
"""


# --------------------------------------------------------------------------
# q23: statistical aggregates via exact moments — stddev/variance/corr are
# float-order-dependent if computed with the engines' native streaming
# kernels (Welford vs two-pass differ in the last ulp), so we compute the
# raw moments (n, Σx, Σx², Σy, Σy², Σxy) EXACTLY in decimal, convert each
# once to double, and evaluate the closed-form formulas in a fixed
# operation order — bit-identical in any IEEE-754 engine. The plan is
# still one partial+final hash aggregation (decimal sums are
# map-side-combinable), so nothing is lost at scale.
# --------------------------------------------------------------------------
def q23_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    y = F.col("l_quantity")

    def dbl(c):
        return F.sum(c.cast("decimal(38,8)")).cast("string").cast("double")

    moments = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        dbl(x).alias("sx"),
        dbl(x * x).alias("sxx"),
        dbl(y).alias("sy"),
        dbl(y * y).alias("syy"),
        dbl(x * y).alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    return moments.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        ((sxx - sx * sx / n) / (n - F.lit(1.0))).alias("var_price"),
        F.sqrt((sxx - sx * sx / n) / (n - F.lit(1.0))).alias("std_price"),
        (
            (sxy - sx * sy / n)
            / (F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n))
        ).alias("corr_price_qty"),
    ).orderBy("l_returnflag")


def _duck_moment(expr: str) -> str:
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)"


ORACLE_Q23 = f"""
WITH m AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS n,
         {_duck_moment('l_extendedprice')} AS sx,
         {_duck_moment('l_extendedprice * l_extendedprice')} AS sxx,
         {_duck_moment('l_quantity')} AS sy,
         {_duck_moment('l_quantity * l_quantity')} AS syy,
         {_duck_moment('l_extendedprice * l_quantity')} AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       (sxx - sx * sx / n) / (n - 1.0) AS var_price,
       sqrt((sxx - sx * sx / n) / (n - 1.0)) AS std_price,
       (sxy - sx * sy / n)
         / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)) AS corr_price_qty
FROM m
ORDER BY l_returnflag
"""


# --------------------------------------------------------------------------
# q24: exact discrete percentiles (p50/p90/p99) of event value per type.
# percentile_disc defined as the value at row ceil(p*n) of the sorted
# group, so the answer is an actual data value (no float interpolation
# to diverge on). Scale shape (VERDICT r7 #1-family — the old plan
# row_number'd EVERY event of a type through one window task; event_type
# is a fixed enum): the value at rank ⌈p·n⌉ only ever depends on the
# (type, value) COUNT table — groupBy collapses the corpus map-side,
# the cumulative rank runs along that table (window partition =
# |distinct values| per type — ties collapse; the event_id tiebreak
# only ordered WITHIN equal values, where the value is constant), and
# pXX = the smallest value whose cumulative count reaches the rank.
# For a continuous domain where distincts ≈ rows, the mergeable
# companion is pipe_quantile_sketch — this exact form is the
# correctness anchor.
# --------------------------------------------------------------------------
def q24_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cnt = ev.groupBy("event_type", "value").agg(F.count(F.lit(1)).alias("c"))
    cum = cnt.select(
        "event_type", "value", "c",
        F.sum("c").over(
            W.partitionBy("event_type").orderBy("value")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("cum"),
        F.sum("c").over(W.partitionBy("event_type")).alias("n"),
    )

    def at(p: float):
        pos = F.ceil(F.lit(p) * F.col("n")).cast("bigint")
        return F.min(F.when(F.col("cum") >= pos, F.col("value")))

    return (
        cum.groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            at(0.5).alias("p50"),
            at(0.9).alias("p90"),
            at(0.99).alias("p99"),
        )
        .orderBy("event_type")
    )


ORACLE_Q24 = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
       MAX(n) AS n,
       MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN value END) AS p50,
       MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN value END) AS p90,
       MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN value END) AS p99
FROM ranked
GROUP BY event_type
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# q25: argmax per group (max_by semantics, tie-stable) — for each user,
# the event carrying the highest value; ties broken by event_id so the
# answer is unique. Implemented as max(struct(...)): a single partial+
# final aggregation with NO window sort — structs compare field-by-field
# in Tungsten, so this is the cheapest argmax at scale (one shuffle of
# one struct per (task, user)).
# --------------------------------------------------------------------------
def q25_argmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    best = F.max(F.struct(F.col("value"), F.col("event_id"), F.col("event_type"), F.col("ts")))
    return (
        ev.groupBy("user_id")
        .agg(best.alias("best"))
        .select(
            "user_id",
            F.col("best.value").alias("top_value"),
            F.col("best.event_id").alias("top_event_id"),
            F.col("best.event_type").alias("top_event_type"),
            F.col("best.ts").alias("top_ts"),
        )
        .orderBy("user_id")
    )


ORACLE_Q25 = """
SELECT user_id,
       value AS top_value,
       event_id AS top_event_id,
       event_type AS top_event_type,
       ts AS top_ts
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY value DESC, event_id DESC) AS rk
  FROM events
)
WHERE rk = 1
ORDER BY user_id
"""


# --------------------------------------------------------------------------
# q26: left outer join + count distribution (TPC-H Q13 shape) — customers
# by how many orders they have, INCLUDING zero-order customers (the rows
# only an outer join preserves). Two aggregations, each one shuffle;
# count(o_orderkey) counts non-null matches only.
# --------------------------------------------------------------------------
def q26_outer_join_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count("*").alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.desc("n_orders"))
    )


ORACLE_Q26 = """
SELECT n_orders, count(*) AS n_customers
FROM (
  SELECT c_custkey, count(o_orderkey) AS n_orders
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY n_orders
ORDER BY n_customers DESC, n_orders DESC
"""


# --------------------------------------------------------------------------
# q27: full outer join — per-nation customer and supplier counts merged
# with coalesce; a nation present on either side appears exactly once.
# Both inputs pre-aggregate before the join, so the outer join itself
# handles ~25 rows regardless of input scale.
# --------------------------------------------------------------------------
def q27_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk_c"))
        .agg(F.count("*").alias("n_cust"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk_s"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        cust.join(supp, cust.nk_c == supp.nk_s, "full_outer")
        .select(
            F.coalesce("nk_c", "nk_s").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


ORACLE_Q27 = """
WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1),
     s AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1)
SELECT coalesce(c.nk, s.nk) AS nationkey,
       coalesce(n_cust, 0) AS n_cust,
       coalesce(n_supp, 0) AS n_supp
FROM c FULL OUTER JOIN s ON c.nk = s.nk
ORDER BY nationkey
"""


# --------------------------------------------------------------------------
# q28: correlated minimum across three tables (TPC-H Q2 shape, adapted —
# there is no partsupp table, so lineitem links parts to suppliers):
# for each large part, every supplier that sold it at its observed
# minimum unit price. The oracle keeps the *correlated scalar subquery*
# form; the Spark plan is the decorrelated one Catalyst would produce —
# filter parts early (broadcast semi), per-part min, join back on
# (key, price). Unit price is one IEEE division of identical inputs in
# both engines, so the equality matches consistently.
# --------------------------------------------------------------------------
def q28_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") >= 48)
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    li2 = (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")),
                li.l_partkey == F.col("p_partkey"))
        .withColumn("unit_price", F.col("l_extendedprice") / F.col("l_quantity"))
    )
    mins = li2.groupBy(F.col("p_partkey").alias("mk")).agg(
        F.min("unit_price").alias("min_up")
    )
    return (
        li2.join(
            mins,
            (li2.p_partkey == mins.mk) & (li2.unit_price == mins.min_up),
        )
        .join(F.broadcast(supp), li2.l_suppkey == supp.s_suppkey)
        .select("p_partkey", "p_brand", "s_suppkey", "s_name", "unit_price")
        .distinct()
        .orderBy("p_partkey", "s_suppkey")
    )


ORACLE_Q28 = """
SELECT DISTINCT p_partkey, p_brand, s_suppkey, s_name,
       l_extendedprice / l_quantity AS unit_price
FROM part
JOIN lineitem ON l_partkey = p_partkey
JOIN supplier ON s_suppkey = l_suppkey
WHERE p_size >= 48
  AND l_extendedprice / l_quantity = (
        SELECT min(l2.l_extendedprice / l2.l_quantity)
        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
ORDER BY p_partkey, s_suppkey
"""


# --------------------------------------------------------------------------
# q29: array & map scalar surface — construction, sort, membership,
# higher-order fold, map building + element access. All JVM-side
# expressions (scan-shaped); the oracle restates each value with
# DuckDB's list algebra.
# --------------------------------------------------------------------------
def q29_array_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    arr = F.array(
        (F.col("o_orderkey") % 7).cast("bigint"),
        (F.col("o_orderkey") % 11).cast("bigint"),
        (F.col("o_orderkey") % 13).cast("bigint"),
    )
    m = F.map_from_arrays(
        F.array(F.lit("price"), F.lit("double_price")),
        F.array(F.col("o_totalprice"), F.col("o_totalprice") * 2),
    )
    # Arrays are surfaced as their JSON text ("[6,4,3]") so every output
    # column is scalar — the driver's pandas canonicalizer can't sort
    # ndarray-valued cells, and both engines render identical JSON.
    return orders.select(
        "o_orderkey",
        F.to_json(F.sort_array(arr, asc=False)).alias("mods_desc"),
        F.array_contains(arr, F.lit(3)).alias("has_mod3"),
        F.to_json(F.sort_array(F.array_distinct(arr))).alias("mods_distinct"),
        F.aggregate(arr, F.lit(0).cast("bigint"), lambda a, x: a + x).alias("mods_sum"),
        F.element_at(m, "double_price").alias("double_price"),
        F.size(F.map_keys(m)).cast("bigint").alias("n_keys"),
    ).orderBy("o_orderkey")


ORACLE_Q29 = """
WITH t AS (
  SELECT o_orderkey, o_totalprice,
         [CAST(o_orderkey % 7 AS BIGINT),
          CAST(o_orderkey % 11 AS BIGINT),
          CAST(o_orderkey % 13 AS BIGINT)] AS arr
  FROM orders WHERE o_orderkey <= 1000
)
SELECT o_orderkey,
       CAST(to_json(list_sort(arr, 'DESC')) AS VARCHAR) AS mods_desc,
       list_contains(arr, 3) AS has_mod3,
       CAST(to_json(list_sort(list_distinct(arr))) AS VARCHAR) AS mods_distinct,
       CAST(list_sum(arr) AS BIGINT) AS mods_sum,
       o_totalprice * 2 AS double_price,
       CAST(2 AS BIGINT) AS n_keys
FROM t
ORDER BY o_orderkey
"""


# --------------------------------------------------------------------------
# q37_approx_distinct_kmv — approximate distinct-count via a KMV
# (k-minimum-values) sketch, per event_type, next to the exact count.
#
# Spark's production path for this is approx_count_distinct (HLL++),
# but HLL sketches are engine-internal and can't be cross-checked
# bit-for-bit. KMV over the portable 60-bit md5 hash is DETERMINISTIC:
# the k-th smallest distinct hash is a pure function of the data, so
# the *approximation itself* gets an exact DuckDB oracle — estimate
# = (k-1) · 2^60 / kth_min_hash. Groups with < k distinct users keep
# all their hashes, where KMV is exact by construction.
#
# Scale shape: distinct (event_type, hash) is one shuffle with map-side
# dedup; the per-group k-th min is a window on the same key (exchange
# reused). KMV is union-mergeable (merge = min-k of the union), i.e.
# the same sketch distributes as a partial aggregate at 100 TB.
# --------------------------------------------------------------------------
KMV_K = 64
_KMV_NUM = float((KMV_K - 1) << 60)  # exact: 6 significant bits


def q37_approx_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobx_spark.functions import md5_long

    ev = _t(spark, sf_dir, "events")
    h = md5_long(F.concat(F.lit("kmv:"), F.col("user_id").cast("string")))
    d = ev.select("event_type", h.alias("h")).distinct()
    w = W.partitionBy("event_type").orderBy("h")
    kth = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == KMV_K)
        .select("event_type", F.col("h").alias("kth"))
    )
    exact = d.groupBy("event_type").agg(
        F.count("*").alias("exact_distinct")
    )
    return (
        exact.join(kth, "event_type", "left")
        .select(
            "event_type",
            "exact_distinct",
            F.coalesce(
                F.lit(_KMV_NUM) / F.col("kth"),
                F.col("exact_distinct").cast("double"),
            ).alias("kmv_estimate"),
        )
        .orderBy("event_type")
    )


_KMV_H = "('0x'||substr(md5('kmv:'||CAST(user_id AS VARCHAR)),1,15))::BIGINT"
ORACLE_Q37 = f"""
WITH d AS (SELECT DISTINCT event_type, {_KMV_H} AS h FROM events),
r AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM d
),
kth AS (SELECT event_type, h AS kth FROM r WHERE rn = {KMV_K}),
ex AS (SELECT event_type, count(*) AS exact_distinct FROM d GROUP BY event_type)
SELECT ex.event_type, ex.exact_distinct,
       COALESCE({_KMV_NUM!r} / kth.kth,
                CAST(ex.exact_distinct AS DOUBLE)) AS kmv_estimate
FROM ex LEFT JOIN kth ON ex.event_type = kth.event_type
ORDER BY ex.event_type
"""


# --------------------------------------------------------------------------
# q47: cohort retention — assign each user to the ISO week of their
# first event, then count distinct users active in each later week,
# reported as (cohort_week, week_offset, n_users). ONE events shuffle:
# a single user_id-keyed aggregation computes the cohort (min ts) AND
# the distinct active weeks (collect_set — bounded by the calendar, so
# per-user state is tiny and map-side combine still collapses the
# event volume); the explode + cohort×offset rollup then run on
# |users|, not |events|. The naive formulation (per-user min, separate
# DISTINCT, join) shuffles the events twice and joins — strictly worse
# at 100 TB.
# --------------------------------------------------------------------------
def q47_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts")).cast("date")
    per_user = ev.select("user_id", F.col("ts"), wk.alias("wk")).groupBy(
        "user_id"
    ).agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week"),
        F.collect_set("wk").alias("active_weeks"),
    )
    return (
        per_user.select(
            "cohort_week", F.explode("active_weeks").alias("active_week")
        )
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("active_week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


ORACLE_Q47 = """
WITH first AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
),
weeks AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
  FROM events
)
SELECT cohort_week,
       CAST(datediff('day', cohort_week, active_week) / 7 AS INTEGER)
           AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM weeks JOIN first USING (user_id)
GROUP BY 1, 2
ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# q48: funnel analysis — signup → view → purchase, ordered by each
# user's first timestamp per stage. One conditional-aggregation pass
# over events (min ts per type per user: a single user_id shuffle with
# map-side combine), then the strict-ordering test per user; stage
# counts are a tiny final reduction. No per-stage self-joins — the
# O(|events|²) trap the single-pass form avoids at 100 TB.
# --------------------------------------------------------------------------
def q48_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("view").alias("t_view"),
        first_ts("purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_signup").alias("n_signup"),
        F.sum(
            (F.col("t_view") > F.col("t_signup")).cast("long")
        ).alias("n_signup_then_view"),
        F.sum(
            (
                (F.col("t_view") > F.col("t_signup"))
                & (F.col("t_purchase") > F.col("t_view"))
            ).cast("long")
        ).alias("n_full_funnel"),
    )


ORACLE_Q48 = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup'   THEN ts END) AS t_signup,
         min(CASE WHEN event_type = 'view'     THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(count(t_signup) AS BIGINT) AS n_signup,
       CAST(sum(CASE WHEN t_view > t_signup THEN 1 ELSE 0 END) AS BIGINT)
           AS n_signup_then_view,
       CAST(sum(CASE WHEN t_view > t_signup AND t_purchase > t_view
                THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
FROM per_user
"""


# --------------------------------------------------------------------------
# q51: window navigation — first_value / last_value / nth_value over a
# full-partition frame: each lineitem of a supplier alongside that
# supplier's first, last, and second shipment in shipdate order. The
# unbounded frame evaluates once per partition (Spark's UnboundedWindow
# path), not once per row.
# --------------------------------------------------------------------------
def q51_window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 5)
    order_cols = [F.col("l_shipdate"), F.col("l_orderkey"), F.col("l_linenumber")]
    wfull = (
        W.partitionBy("l_suppkey")
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.first_value(F.col("l_shipdate")).over(wfull).alias("first_ship"),
        F.last_value(F.col("l_shipdate")).over(wfull).alias("last_ship"),
        F.nth_value(F.col("l_orderkey"), 2).over(wfull).alias("second_orderkey"),
    ).orderBy("l_suppkey", "l_orderkey", "l_linenumber")


ORACLE_Q51 = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       first_value(l_shipdate) OVER w AS first_ship,
       last_value(l_shipdate) OVER w AS last_ship,
       nth_value(l_orderkey, 2) OVER w AS second_orderkey
FROM lineitem
WHERE l_suppkey <= 5
WINDOW w AS (PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY l_suppkey, l_orderkey, l_linenumber
"""


# --------------------------------------------------------------------------
# q52: ratio-to-report — each nation's share of global customer balance,
# computed as agg-then-window: the share window runs over the ~25-row
# aggregate, never over the base table. Numerator and denominator are
# both exact decimals converted once to double, so the division is a
# single deterministic IEEE op in both engines.
# --------------------------------------------------------------------------
def q52_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    per_nation = cust.groupBy("c_nationkey").agg(
        F.sum(F.col("c_acctbal").cast("decimal(38,8)")).alias("bal_dec"),
        F.count(F.lit(1)).alias("n_customers"),
    )
    wall = W.partitionBy()
    return (
        per_nation.select(
            "c_nationkey",
            "n_customers",
            F.col("bal_dec").cast("string").cast("double").alias("nation_bal"),
            (
                F.col("bal_dec").cast("string").cast("double")
                / F.sum("bal_dec").over(wall).cast("string").cast("double")
            ).alias("share"),
        )
        .orderBy("c_nationkey")
    )


ORACLE_Q52 = """
WITH pn AS (
  SELECT c_nationkey,
         SUM(CAST(c_acctbal AS DECIMAL(38,8))) AS bal_dec,
         CAST(count(*) AS BIGINT) AS n_customers
  FROM customer GROUP BY c_nationkey
)
SELECT c_nationkey, n_customers,
       CAST(CAST(bal_dec AS VARCHAR) AS DOUBLE) AS nation_bal,
       CAST(CAST(bal_dec AS VARCHAR) AS DOUBLE)
         / CAST(CAST(SUM(bal_dec) OVER () AS VARCHAR) AS DOUBLE) AS share
FROM pn
ORDER BY c_nationkey
"""


# --------------------------------------------------------------------------
# q53: correlated scalar subquery in the SELECT list — each nation with
# its customer count and richest customer's balance. Catalyst
# decorrelates the SELECT-list subquery into a left outer aggregate
# join (a different rewrite than WHERE-clause correlation, q19/q28);
# at scale both sides aggregate before joining, so the join input is
# |nations|, not |customers|.
# --------------------------------------------------------------------------
def q53_select_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT n_nationkey, n_name,
               (SELECT count(*) FROM customer WHERE c_nationkey = n_nationkey)
                   AS n_customers,
               (SELECT max(c_acctbal) FROM customer
                WHERE c_nationkey = n_nationkey) AS top_balance
        FROM nation
        ORDER BY n_nationkey
        """
    )


ORACLE_Q53 = """
SELECT n_nationkey, n_name,
       CAST((SELECT count(*) FROM customer WHERE c_nationkey = n_nationkey)
            AS BIGINT) AS n_customers,
       (SELECT max(c_acctbal) FROM customer
        WHERE c_nationkey = n_nationkey) AS top_balance
FROM nation
ORDER BY n_nationkey
"""


# --------------------------------------------------------------------------
# q54: within-session conversion — sessionize (30-min gap), then per
# session test the ordered pattern view → purchase via min/max
# timestamps (for a two-step pattern, "a view precedes a purchase in
# this session" ⟺ min(view ts) < max(purchase ts) — no array
# materialization, no per-event state). Two window passes over
# user-partitioned events + one session rollup; at 100 TB the
# user_id partitioning bounds every window.
# --------------------------------------------------------------------------
def q54_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 1800 * 1_000_000
    stamped = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros(F.col("ts"))
                - F.unix_micros(F.lag("ts").over(w))
                >= gap_us
            ),
            1,
        ).otherwise(0).alias("is_new"),
    )
    sessions = stamped.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "last_purchase"
        ),
    )
    return per_session.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count("first_view").alias("n_with_view"),
        F.sum(
            (F.col("first_view") < F.col("last_purchase")).cast("long")
        ).alias("n_converted"),
    )


ORACLE_Q54 = """
WITH stamped AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800 * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessioned AS (
  SELECT user_id, ts, event_type,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM stamped
), per_session AS (
  SELECT user_id, session_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
         max(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
  FROM sessioned
  GROUP BY user_id, session_id
)
SELECT CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(first_view) AS BIGINT) AS n_with_view,
       CAST(sum(CASE WHEN first_view < last_purchase THEN 1 ELSE 0 END)
            AS BIGINT) AS n_converted
FROM per_session
"""


QUERIES = {
    "q20_asof_join": q20_asof_join,
    "q47_cohort_retention": q47_cohort_retention,
    "q54_session_conversion": q54_session_conversion,
    "q48_funnel_steps": q48_funnel_steps,
    "q51_window_navigation": q51_window_navigation,
    "q52_revenue_share": q52_revenue_share,
    "q53_select_scalar_subquery": q53_select_scalar_subquery,
    "q37_approx_distinct_kmv": q37_approx_distinct_kmv,
    "q28_cheapest_supplier": q28_cheapest_supplier,
    "q29_array_map_functions": q29_array_map_functions,
    "q26_outer_join_dist": q26_outer_join_dist,
    "q27_full_outer": q27_full_outer,
    "q21_band_join": q21_band_join,
    "q22_window_frames": q22_window_frames,
    "q23_stats_moments": q23_stats_moments,
    "q24_percentile_disc": q24_percentile_disc,
    "q25_argmax_per_group": q25_argmax_per_group,
}

ORACLES = {
    "q20_asof_join": ORACLE_Q20,
    "q47_cohort_retention": ORACLE_Q47,
    "q48_funnel_steps": ORACLE_Q48,
    "q51_window_navigation": ORACLE_Q51,
    "q52_revenue_share": ORACLE_Q52,
    "q53_select_scalar_subquery": ORACLE_Q53,
    "q54_session_conversion": ORACLE_Q54,
    "q37_approx_distinct_kmv": ORACLE_Q37,
    "q28_cheapest_supplier": ORACLE_Q28,
    "q29_array_map_functions": ORACLE_Q29,
    "q26_outer_join_dist": ORACLE_Q26,
    "q27_full_outer": ORACLE_Q27,
    "q21_band_join": ORACLE_Q21,
    "q22_window_frames": ORACLE_Q22,
    "q23_stats_moments": ORACLE_Q23,
    "q24_percentile_disc": ORACLE_Q24,
    "q25_argmax_per_group": ORACLE_Q25,
}
