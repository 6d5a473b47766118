"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operators (SURVEY.md §2) over the driver's
parquet tables at ``sf_dir``; ``oracle_sql()`` gives the DuckDB-checkable
ANSI-SQL equivalent where one exists.  Raster-pipeline queries (fuse /
compare / stats / spatial over the synthetic interleaved-documents table)
have no SQL oracle — the driver records rows-only checks for those; their
numerical correctness is covered by ``tests/`` against closed-form and
whole-image numpy oracles.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tp(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Like :func:`_t` but rebalanced: the driver tables are single parquet
    files with ONE row group (unsplittable), so scans of the small tables
    run on a single core; for queries whose per-row compute dominates the
    scan (regex profiling, md5, GEMM), repartition right after the read
    (optimization guide §2.5 — adaptive, no-op on well-split inputs)."""
    from homonim_spark.partitioning import rebalance
    return rebalance(_t(spark, sf_dir, name))


@functools.lru_cache(maxsize=1)
def _raster_tables():
    """Deterministic synthetic interleaved-documents fixture (independent of
    sf_dir content): two 4×4-cell image pairs."""
    from homonim_spark import datagen
    specs = datagen.default_specs(scale=2)
    return datagen.build_fixture_tables(specs)


def _raster_spark(spark: SparkSession):
    from homonim_spark import datagen
    return datagen.to_spark(spark, *_raster_tables())


# ---------------------------------------------------------------------------
# relational / aggregation operators (engine analogues, DuckDB-checked)
# ---------------------------------------------------------------------------

def q_compare_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/A10: the compare statistic pipeline (PCC², RMSE, rRMSE, N) as
    partial+final aggregation — here over lineitem treating l_discount as
    'src' and l_tax as 'ref' per l_returnflag 'band'
    (reference compare.py:142-163)."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.sum("l_discount").alias("src_sum"),
        F.sum("l_tax").alias("ref_sum"),
        F.sum(F.col("l_discount") * F.col("l_discount")).alias("src2_sum"),
        F.sum(F.col("l_tax") * F.col("l_tax")).alias("ref2_sum"),
        F.sum(F.col("l_discount") * F.col("l_tax")).alias("src_ref_sum"),
        F.sum(F.pow(F.col("l_tax") - F.col("l_discount"), 2)).alias("res2_sum"),
        F.count("*").alias("n"),
    )
    src_mean = F.col("src_sum") / F.col("n")
    ref_mean = F.col("ref_sum") / F.col("n")
    pcc_num = F.col("src_ref_sum") - F.col("n") * src_mean * ref_mean
    pcc_den = F.sqrt(F.col("src2_sum") - F.col("n") * src_mean * src_mean) * \
        F.sqrt(F.col("ref2_sum") - F.col("n") * ref_mean * ref_mean)
    rmse = F.sqrt(F.col("res2_sum") / F.col("n"))
    return agg.select(
        F.col("l_returnflag").alias("band"),
        F.round(F.pow(pcc_num / pcc_den, 2), 6).alias("r2"),
        F.round(rmse, 6).alias("rmse"),
        F.round(rmse / ref_mean, 6).alias("rrmse"),
        F.col("n").cast("long").alias("n"),
    ).orderBy("band")


ORACLE_COMPARE_STATS = """
WITH agg AS (
  SELECT l_returnflag AS band,
         SUM(l_discount) AS src_sum, SUM(l_tax) AS ref_sum,
         SUM(l_discount*l_discount) AS src2_sum, SUM(l_tax*l_tax) AS ref2_sum,
         SUM(l_discount*l_tax) AS src_ref_sum,
         SUM(POW(l_tax - l_discount, 2)) AS res2_sum,
         COUNT(*) AS n
  FROM lineitem GROUP BY l_returnflag
)
SELECT band,
       ROUND(POW((src_ref_sum - n*(src_sum/n)*(ref_sum/n)) /
             (SQRT(src2_sum - n*(src_sum/n)*(src_sum/n)) *
              SQRT(ref2_sum - n*(ref_sum/n)*(ref_sum/n))), 2), 6) AS r2,
       ROUND(SQRT(res2_sum/n), 6) AS rmse,
       ROUND(SQRT(res2_sum/n) / (ref_sum/n), 6) AS rrmse,
       CAST(n AS BIGINT) AS n
FROM agg ORDER BY band
"""


def q_param_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: param-stats aggregation (min/max/mean/cumulative-std +
    below-threshold share, reference stats.py:175-192) over lineitem
    extendedprice per returnflag."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("vmin"),
        F.max("l_extendedprice").alias("vmax"),
        F.sum("l_extendedprice").alias("vsum"),
        F.sum(F.col("l_extendedprice") * F.col("l_extendedprice")).alias("vsum2"),
        F.count("*").alias("n"),
        F.sum(F.when(F.col("l_extendedprice") < 2000, 1).otherwise(0)).alias("low_n"),
    )
    mean = F.col("vsum") / F.col("n")
    std = F.sqrt(F.col("vsum2") / F.col("n") - F.pow(F.col("vsum") / F.col("n"), 2))
    return agg.select(
        F.col("l_returnflag").alias("band"),
        F.round(mean, 4).alias("mean"),
        F.round(std, 4).alias("std"),
        F.round(F.col("vmin"), 4).alias("min"),
        F.round(F.col("vmax"), 4).alias("max"),
        F.round(F.lit(100.0) * F.col("low_n") / F.col("n"), 6).alias("inpaint_p"),
        F.col("n").cast("long").alias("n"),
    ).orderBy("band")


ORACLE_PARAM_STATS = """
SELECT l_returnflag AS band,
       ROUND(SUM(l_extendedprice)/COUNT(*), 4) AS mean,
       ROUND(SQRT(SUM(l_extendedprice*l_extendedprice)/COUNT(*)
             - POW(SUM(l_extendedprice)/COUNT(*), 2)), 4) AS std,
       ROUND(MIN(l_extendedprice), 4) AS min,
       ROUND(MAX(l_extendedprice), 4) AS max,
       ROUND(100.0 * SUM(CASE WHEN l_extendedprice < 2000 THEN 1 ELSE 0 END)
             / COUNT(*), 6) AS inpaint_p,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY band
"""


def q_rollup_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 'Mean' row: 2-level rollup over bands (reference compare.py:177-186
    maps to df.rollup — SURVEY.md §2.7)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.rollup("event_type")
        .agg(F.round(F.avg("value"), 6).alias("avg_value"),
             F.count("*").alias("n"))
        .select(F.coalesce(F.col("event_type"), F.lit("Mean")).alias("band"),
                "avg_value", F.col("n").cast("long").alias("n"))
        .orderBy("band")
    )


ORACLE_ROLLUP_MEAN = """
SELECT COALESCE(event_type, 'Mean') AS band,
       ROUND(AVG(value), 6) AS avg_value,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY ROLLUP(event_type) ORDER BY band
"""


def q_data_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: distributed bounding-box accumulation (reference stats.py:135-173)
    — min/max extents per group."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.min("user_id").alias("row0"), F.max("user_id").alias("row1"),
             F.round(F.min("value"), 6).alias("col0"),
             F.round(F.max("value"), 6).alias("col1"))
        .orderBy("event_type")
    )


ORACLE_DATA_WINDOW = """
SELECT event_type,
       MIN(user_id) AS row0, MAX(user_id) AS row1,
       ROUND(MIN(value), 6) AS col0, ROUND(MAX(value), 6) AS col1
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary — the canonical partial+final
    aggregation the compare/stats operators are built on."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 4) AS sum_qty,
       ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
       ROUND(SUM(l_extendedprice*(1-l_discount)), 4) AS sum_disc_price,
       ROUND(SUM(l_extendedprice*(1-l_discount)*(1+l_tax)), 4) AS sum_charge,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_extendedprice), 6) AS avg_price,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + agg — everything reaches the scan
    (predicate pushdown showcase)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1997-01-01")
                  & (F.col("l_discount") >= 0.02) & (F.col("l_discount") <= 0.06)
                  & (F.col("l_quantity") < 24))
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"),
             F.count("*").alias("n"))
    )


ORACLE_TPCH_Q6 = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + group + deterministic top-10."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .filter(F.col("l_shipdate") > "1995-03-15")
        .groupBy(F.col("l_orderkey").cast("long").alias("orderkey"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
    )


ORACLE_TPCH_Q3 = """
SELECT CAST(l_orderkey AS BIGINT) AS orderkey,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey ORDER BY revenue DESC, orderkey ASC LIMIT 10
"""


def q_band_match_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 analogue: ranking join by distance — per customer nation, rank
    suppliers by |acctbal difference| to the nation's mean customer balance
    (window row_number, the reference's greedy matching ranked candidates)."""
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nat_bal = cust.groupBy("c_nationkey").agg(F.avg("c_acctbal").alias("nat_bal"))
    j = supp.join(nat_bal, supp["s_nationkey"] == nat_bal["c_nationkey"])
    from pyspark.sql import Window
    w = Window.partitionBy("s_nationkey").orderBy(
        F.abs(F.col("s_acctbal") - F.col("nat_bal")).asc(), F.col("s_suppkey").asc()
    )
    return (
        j.withColumn("match_rank", F.row_number().over(w))
        .filter(F.col("match_rank") <= 3)
        .select(
            F.col("s_nationkey").cast("long").alias("nationkey"),
            F.col("s_suppkey").cast("long").alias("suppkey"),
            F.round(F.abs(F.col("s_acctbal") - F.col("nat_bal")), 4).alias("match_dist"),
            "match_rank",
        )
        .orderBy("nationkey", "match_rank")
    )


ORACLE_BAND_MATCH_RANK = """
WITH nat_bal AS (
  SELECT c_nationkey, AVG(c_acctbal) AS nat_bal FROM customer GROUP BY c_nationkey
), ranked AS (
  SELECT s_nationkey, s_suppkey, ABS(s_acctbal - nat_bal) AS dist,
         ROW_NUMBER() OVER (PARTITION BY s_nationkey
                            ORDER BY ABS(s_acctbal - nat_bal) ASC, s_suppkey ASC) AS match_rank
  FROM supplier JOIN nat_bal ON s_nationkey = c_nationkey
)
SELECT CAST(s_nationkey AS BIGINT) AS nationkey, CAST(s_suppkey AS BIGINT) AS suppkey,
       ROUND(dist, 4) AS match_dist, match_rank
FROM ranked WHERE match_rank <= 3 ORDER BY nationkey, match_rank
"""


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort/limit (SURVEY.md §2.7): deterministic top-20 orders."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select(
            F.col("o_orderkey").cast("long").alias("orderkey"),
            F.round("o_totalprice", 4).alias("totalprice"),
        )
    )


ORACLE_TOPK_ORDERS = """
SELECT CAST(o_orderkey AS BIGINT) AS orderkey, ROUND(o_totalprice, 4) AS totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
"""


def q_join_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-dim star join with filter pushdown: revenue per nation for
    one region (TPC-H Q5 shape) — exercises the engine's broadcast-small-dims
    strategy."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    # Join order rewritten for selectivity (guide §3): the ASIA filter keeps
    # ~1/5 of customers, so reduce the dimension side FIRST and attach the
    # fact table last — the lineitem side probes ONE small hash relation
    # (ASIA orders) instead of chaining through a full-orders build; the
    # broadcast build shrinks 5x and the region filter prunes before any
    # fact-side work.  Inner equi-joins commute: result proven identical.
    asia_c = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .filter(F.col("r_name") == "ASIA")
        .select("c_custkey", "n_name")
    )
    o_asia = o.join(F.broadcast(asia_c), o["o_custkey"] == asia_c["c_custkey"]) \
        .select("o_orderkey", "n_name")
    return (
        li.join(F.broadcast(o_asia), li["l_orderkey"] == o_asia["o_orderkey"])
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
        .select(F.col("n_name").alias("nation"), "revenue")
    )


ORACLE_JOIN_PUSHDOWN = """
SELECT n_name AS nation,
       ROUND(SUM(l_extendedprice*(1-l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name ORDER BY revenue DESC, n_name ASC
"""


def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: per-part-type revenue + share of total for one ship
    month — broadcast of the part dim against the lineitem fact, conditional
    aggregate over a window-free total (scalar join)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_type = (
        li.filter((F.col("l_shipdate") >= "1995-09-01")
                  & (F.col("l_shipdate") < "1995-10-01"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type")
        .agg(F.sum(rev).alias("_rev"), F.count("*").alias("n_items"))
    )
    total = per_type.agg(F.sum("_rev").alias("_tot"))
    return (
        per_type.crossJoin(F.broadcast(total))
        .select(
            "p_type",
            F.round("_rev", 4).alias("revenue"),
            "n_items",
            F.round(F.col("_rev") / F.col("_tot"), 6).alias("revenue_share"),
        )
        .orderBy("p_type")
    )


ORACLE_PROMO_SHARE = """
WITH per_type AS (
  SELECT p_type, SUM(l_extendedprice*(1-l_discount)) AS rev,
         CAST(COUNT(*) AS BIGINT) AS n_items
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1995-09-01'
    AND l_shipdate < TIMESTAMP '1995-10-01'
  GROUP BY p_type
)
SELECT p_type, ROUND(rev, 4) AS revenue, n_items,
       ROUND(rev / SUM(rev) OVER (), 6) AS revenue_share
FROM per_type ORDER BY p_type
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful sessionization via window lag: a new session starts after a
    >30-minute gap per user (the batch analogue of the streaming session
    window; SURVEY.md §2.7 windows)."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = ev.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    sess = sess.withColumn("sess_no", F.sum("new_sess").over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)))
    return (
        sess.groupBy("user_id", "sess_no")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 6).alias("sess_value"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"),
             F.max("n_events").alias("max_sess_events"),
             F.round(F.sum("sess_value"), 6).alias("total_value"))
        .orderBy("user_id")
        .select(F.col("user_id").cast("long"), "n_sessions", "max_sess_events", "total_value")
    )


ORACLE_SESSIONIZE = """
WITH gaps AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN LAG(ts) OVER w IS NULL
              OR date_diff('second', LAG(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_no
  FROM gaps
), per_sess AS (
  SELECT user_id, sess_no, COUNT(*) AS n_events, ROUND(SUM(value), 6) AS sess_value
  FROM sess GROUP BY user_id, sess_no
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(MAX(n_events) AS BIGINT) AS max_sess_events,
       ROUND(SUM(sess_value), 6) AS total_value
FROM per_sess GROUP BY user_id ORDER BY user_id
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the events props column
    (SURVEY.md §2.7 JSON)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(F.sum(k).alias("sum_k"), F.max(k).alias("max_k"),
             F.count(F.when(k.isNull(), 1)).alias("null_k"))
        .orderBy("event_type")
    )


ORACLE_JSON_EXTRACT = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       CAST(COUNT(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 END) AS BIGINT) AS null_k
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational set operators: users with purchases EXCEPT users with
    errors, INTERSECT of clickers and viewers (SURVEY.md §2.7 set ops)."""
    ev = _t(spark, sf_dir, "events")
    u = lambda t: ev.filter(F.col("event_type") == t).select("user_id").distinct()
    buyers_no_errors = u("purchase").exceptAll(u("error")).distinct()
    click_and_view = u("click").intersect(u("view"))
    return (
        buyers_no_errors.withColumn("cohort", F.lit("buyers_no_errors"))
        .unionByName(click_and_view.withColumn("cohort", F.lit("click_and_view")))
        .groupBy("cohort").agg(F.count("*").alias("n_users"),
                               F.sum("user_id").alias("sum_user_id"))
        .orderBy("cohort")
    )


ORACLE_SET_OPS = """
WITH b AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
  EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
), cv AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
  INTERSECT SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
), tagged AS (
  SELECT user_id, 'buyers_no_errors' AS cohort FROM b
  UNION ALL SELECT user_id, 'click_and_view' FROM cv
)
SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(user_id) AS BIGINT) AS sum_user_id
FROM tagged GROUP BY cohort ORDER BY cohort
"""


def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderpriority, orderstatus) (SURVEY.md §2.7 grouping sets)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("total"),
             F.count("*").alias("n"))
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "total", "n")
        .orderBy("priority", "status")
    )


ORACLE_CUBE_ORDERS = """
SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
       COALESCE(o_orderstatus, 'ALL') AS status,
       ROUND(SUM(o_totalprice), 4) AS total,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
ORDER BY priority, status
"""


def q_anti_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti/semi joins — the engine's coverage-audit shape (J5): customers
    with orders (semi) and without orders (anti), per nation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    with_orders = c.join(o, "c_custkey", "left_semi")
    without = c.join(o, "c_custkey", "left_anti")
    return (
        with_orders.withColumn("cohort", F.lit("with_orders"))
        .unionByName(without.withColumn("cohort", F.lit("without_orders")))
        .groupBy("cohort", F.col("c_nationkey").cast("long").alias("nationkey"))
        .agg(F.count("*").alias("n"))
        .orderBy("cohort", "nationkey")
    )


ORACLE_ANTI_SEMI_JOIN = """
WITH w AS (
  SELECT c_nationkey FROM customer
  WHERE c_custkey IN (SELECT o_custkey FROM orders)
), wo AS (
  SELECT c_nationkey FROM customer
  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
), tagged AS (
  SELECT 'with_orders' AS cohort, c_nationkey FROM w
  UNION ALL SELECT 'without_orders', c_nationkey FROM wo
)
SELECT cohort, CAST(c_nationkey AS BIGINT) AS nationkey,
       CAST(COUNT(*) AS BIGINT) AS n
FROM tagged GROUP BY cohort, c_nationkey ORDER BY cohort, nationkey
"""


# ---------------------------------------------------------------------------
# text / dedup / similarity operators (DuckDB-checked)
# ---------------------------------------------------------------------------

def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostics over the events user_id key (the north_rule's
    measure-don't-guess input to salted joins)."""
    from homonim_spark.operators.spatial import skew_report
    ev = _t(spark, sf_dir, "events")
    return skew_report(ev, ["user_id"])


ORACLE_SKEW_REPORT = """
WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(n) AS BIGINT) AS total_rows,
       CAST(MAX(n) AS BIGINT) AS max_rows,
       ROUND(AVG(n), 6) AS avg_rows,
       ROUND(MAX(n) / AVG(n), 6) AS skew_ratio
FROM c
"""


def q_span_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis over interleaved-span documents, ORACLE-CHECKED: each
    flat driver document is wrapped into the input_hint spans schema — its
    text split at the first space into two text spans plus two media spans,
    with the array built in REVERSED offset order so the operator's
    offset-sort + filter + rejoin is genuinely exercised — and the profile
    of the reassembled text must equal the profile DuckDB computes directly
    over the flat ``documents`` table."""
    from homonim_spark.operators.textops import span_text_profile

    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    has_space = F.instr(t, " ") > 0
    part1 = F.substring_index(t, " ", 1)
    part2 = F.expr("substring(text, instr(text, ' ') + 1)")

    def span(kind, text, off):
        return F.struct(F.lit(kind).alias("kind"), text.alias("text"),
                        F.lit("").alias("media_ref"),
                        F.lit(off).cast("int").alias("offset"))

    spans = F.when(has_space, F.array(
        span("media", F.lit(""), 3), span("text", part2, 2),
        span("media", F.lit(""), 1), span("text", part1, 0),
    )).otherwise(F.array(span("media", F.lit(""), 1), span("text", t, 0)))
    wrapped = docs.select("doc_id", spans.alias("spans"))
    return span_text_profile(wrapped).orderBy("doc_id")


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal raw-f32 feature extraction ORACLE-CHECKED: per-payload
    byte size, dims, float64 mean/std and valid share over a dyadic
    gradient fixture (src = (ref+2)/2 — every float32 payload value and
    float64 sum is exact), reproduced by DuckDB from a generate_series
    rebuild of each tile's pixels."""
    from homonim_spark import datagen
    from homonim_spark.operators.multimodal import media_features

    spec = datagen.RasterFixtureSpec(pair_id="mf", cells=(2, 2), tile=8,
                                     factor=2, bands=2,
                                     true_gain=2.0, true_offset=-2.0)
    _, tiles_pdf = datagen.build_pair_tables(spec)
    tiles = spark.createDataFrame(tiles_pdf, schema=datagen.TILES_SCHEMA)
    out = media_features(tiles)
    return out.select(
        "media_ref", "codec", "n_bytes", "width", "height",
        (F.round("mean", 6) + F.lit(0.0)).alias("mean"),
        (F.round("std", 6) + F.lit(0.0)).alias("std"),
        (F.round("p_valid", 6) + F.lit(0.0)).alias("p_valid"),
    ).orderBy("media_ref")


ORACLE_MEDIA_FEATURES = """
WITH px AS (
  SELECT 'ref' AS role, band, r // 8 AS cr, c // 8 AS cc, 8 AS dim,
         CAST((band + 1) * (1 + ((r * 10 + c) % 200)) AS DOUBLE) AS v,
         (r BETWEEN 1 AND 14 AND c BETWEEN 1 AND 14) AS valid
  FROM generate_series(0, 15) t1(r), generate_series(0, 15) t2(c),
       (SELECT UNNEST([0, 1]) AS band) b
  UNION ALL
  SELECT 'src', band, r // 16, c // 16, 16,
         ((band + 1) * (1 + (((r // 2) * 10 + (c // 2)) % 200)) + 2.0) / 2.0,
         (r BETWEEN 2 AND 29 AND c BETWEEN 2 AND 29)
  FROM generate_series(0, 31) t1(r), generate_series(0, 31) t2(c),
       (SELECT UNNEST([0, 1]) AS band) b
)
SELECT 'tile://mf/' || role || '/' || band || '/' || cr || '/' || cc AS media_ref,
       'raw-f32' AS codec,
       CAST(dim * dim * 4 AS BIGINT) AS n_bytes,
       CAST(dim AS INT) AS width, CAST(dim AS INT) AS height,
       ROUND(SUM(CASE WHEN valid THEN v END)
             / SUM(CASE WHEN valid THEN 1 ELSE 0 END), 6) + 0.0 AS mean,
       ROUND(SQRT(GREATEST(
             SUM(CASE WHEN valid THEN v * v END)
               / SUM(CASE WHEN valid THEN 1 ELSE 0 END)
             - POW(SUM(CASE WHEN valid THEN v END)
                   / SUM(CASE WHEN valid THEN 1 ELSE 0 END), 2), 0)), 6)
           + 0.0 AS std,
       ROUND(SUM(CASE WHEN valid THEN 1.0 ELSE 0 END) / COUNT(*), 6)
           + 0.0 AS p_valid
FROM px GROUP BY role, band, cr, cc, dim ORDER BY media_ref
"""


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal RESIZE path ORACLE-CHECKED: every tile is resized to
    8×8 (ref 8×8 → identity block mean; src 16×16 → 2×2 block mean) and
    the features of the RESIZED payloads are pinned.  The fixture's src
    tiles are a kron-2×2 upsample of the ref-grid gradient, so each 2×2
    block is CONSTANT and the block mean is exact (no float rounding) —
    DuckDB rebuilds the resized pixels directly from the base gradient
    and reproduces mean/std/valid-share per payload, pinning
    decode → block-mean resize → re-encode → feature extract."""
    from homonim_spark import datagen
    from homonim_spark.operators.multimodal import media_features, resize_media

    spec = datagen.RasterFixtureSpec(pair_id="mf", cells=(2, 2), tile=8,
                                     factor=2, bands=2,
                                     true_gain=2.0, true_offset=-2.0)
    _, tiles_pdf = datagen.build_pair_tables(spec)
    tiles = spark.createDataFrame(tiles_pdf, schema=datagen.TILES_SCHEMA)
    out = media_features(resize_media(tiles, 8, 8))
    return out.select(
        "media_ref", "codec", "n_bytes", "width", "height",
        (F.round("mean", 6) + F.lit(0.0)).alias("mean"),
        (F.round("std", 6) + F.lit(0.0)).alias("std"),
        (F.round("p_valid", 6) + F.lit(0.0)).alias("p_valid"),
    ).orderBy("media_ref")


ORACLE_MEDIA_RESIZE = """
WITH px AS (
  SELECT 'ref' AS role, band, r // 8 AS cr, c // 8 AS cc,
         CAST((band + 1) * (1 + ((r * 10 + c) % 200)) AS DOUBLE) AS v,
         (r BETWEEN 1 AND 14 AND c BETWEEN 1 AND 14) AS valid
  FROM generate_series(0, 15) t1(r), generate_series(0, 15) t2(c),
       (SELECT UNNEST([0, 1]) AS band) b
  UNION ALL
  -- src resized 16->8 by 2x2 block mean: each block is constant (the src
  -- was a kron-2x2 of the base gradient), so resized pixel (r,c) = the
  -- base value; a block is valid iff all 4 src pixels were (global src
  -- rows 2r,2r+1 in [2,29] <=> r in [1,14])
  SELECT 'src', band, r // 8, c // 8,
         ((band + 1) * (1 + ((r * 10 + c) % 200)) + 2.0) / 2.0,
         (r BETWEEN 1 AND 14 AND c BETWEEN 1 AND 14)
  FROM generate_series(0, 15) t1(r), generate_series(0, 15) t2(c),
       (SELECT UNNEST([0, 1]) AS band) b
)
SELECT 'tile://mf/' || role || '/' || band || '/' || cr || '/' || cc AS media_ref,
       'raw-f32' AS codec,
       CAST(8 * 8 * 4 AS BIGINT) AS n_bytes,
       CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
       ROUND(SUM(CASE WHEN valid THEN v END)
             / SUM(CASE WHEN valid THEN 1 ELSE 0 END), 6) + 0.0 AS mean,
       ROUND(SQRT(GREATEST(
             SUM(CASE WHEN valid THEN v * v END)
               / SUM(CASE WHEN valid THEN 1 ELSE 0 END)
             - POW(SUM(CASE WHEN valid THEN v END)
                   / SUM(CASE WHEN valid THEN 1 ELSE 0 END), 2), 0)), 6)
           + 0.0 AS std,
       ROUND(SUM(CASE WHEN valid THEN 1.0 ELSE 0 END) / COUNT(*), 6)
           + 0.0 AS p_valid
FROM px GROUP BY role, band, cr, cc ORDER BY media_ref
"""


def _explode_px(df: DataFrame, tile: int, cols: dict,
                dp: int | None = None) -> DataFrame:
    """Per-pixel rows ``(r, c, <outputs>)`` of ``tile``×``tile`` float32 tile
    columns keyed by ``cell_id``.  ``cols`` maps tile columns to output
    names; a pixel is emitted where the first column is not NaN; values
    are the float64 view of the float32 pixel, rounded with ``np.round`` to
    ``dp`` places (verified to agree with DuckDB ROUND on the fixtures'
    ranges) or left as is when ``dp`` is None."""
    import numpy as np
    from homonim_spark import grid
    from homonim_spark.tiles import decode_tile, map_tile_batches

    def explode(cell_id, *data):
        arrs = [decode_tile(d, tile, tile) for d in data]
        ys, xs = np.nonzero(~np.isnan(arrs[0]))
        vals = [a[ys, xs].astype(np.float64) for a in arrs]
        if dp is not None:
            vals = [np.round(v, dp) for v in vals]
        return zip((grid.cell_row(cell_id) * tile + ys).tolist(),
                   (grid.cell_col(cell_id) * tile + xs).tolist(), *(v.tolist() for v in vals))

    schema = T.StructType([T.StructField("r", T.IntegerType()), T.StructField("c", T.IntegerType()),
                           *(T.StructField(n, T.DoubleType()) for n in cols.values())])
    return map_tile_batches(df.select("cell_id", *cols), explode, schema)


def q_fuse_gain_k1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuse numerics, ORACLE-CHECKED end-to-end (VERDICT r01 next-step #8):
    gain model, 1×1 kernel, ref space — per proc pixel the fitted gain is
    exactly ref / blockmean(src) (``kernel/models.py:fit_gain``), which is
    relationally computable from the closed-form synthetic gradient
    (ref(r,c) = 1 + (r·10 + c) mod 200; src = (ref + 2)/2 via true_gain=2,
    true_offset=−2 — all float32-exact inputs).  DuckDB rebuilds the pixel
    table with generate_series and reproduces every fitted gain to 4 dp
    (float32-vs-float64 round stability verified over the full value range),
    pinning scan → pairing → halo → blockmean → fit → tile emit per-pixel."""
    from homonim_spark import datagen
    from homonim_spark.operators.fuse import fuse

    spec = datagen.RasterFixtureSpec(pair_id="k1", cells=(2, 2), tile=8,
                                     factor=2, bands=1,
                                     true_gain=2.0, true_offset=-2.0)
    docs_pdf, tiles_pdf = datagen.build_pair_tables(spec)
    docs, tiles = datagen.to_spark(spark, docs_pdf, tiles_pdf)
    fused = fuse(docs, tiles, model="gain", kernel_shape=(1, 1))

    return _explode_px(fused, 8, {"gain": "gain"}, dp=4).orderBy("r", "c")


ORACLE_FUSE_GAIN_K1 = """
WITH px AS (
  SELECT r, c, CAST(1 + ((r * 10 + c) % 200) AS DOUBLE) AS v
  FROM generate_series(0, 15) t1(r), generate_series(0, 15) t2(c)
  -- combined valid interior: ref 1-px NaN border ∪ src 2-src-px (=1 proc px)
  WHERE r BETWEEN 1 AND 14 AND c BETWEEN 1 AND 14
)
SELECT CAST(r AS INT) AS r, CAST(c AS INT) AS c,
       ROUND(v / ((v + 2.0) / 2.0), 4) AS gain
FROM px ORDER BY r, c
"""


def q_fuse_gain_offset_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEFAULT-SHAPE fuse fit ORACLE-CHECKED per-pixel: gain-offset
    model, full 5×5 sliding kernel, through the whole distributed pipeline
    (scan → pairing → halo → block-mean → integral-image OLS → tile emit).
    DuckDB reproduces every fitted gain AND offset with a 25-neighbor
    self-join OLS over the generate_series rebuild of the pixel table.  On
    this fixture all values are dyadic rationals small enough that the
    engine's float32 integral images are exact (verified: float32 result
    == float64 OLS bit-for-bit), so both engines compute identical doubles."""
    from homonim_spark import datagen
    from homonim_spark.operators.fuse import fuse

    spec = datagen.RasterFixtureSpec(pair_id="go5", cells=(2, 2), tile=8,
                                     factor=2, bands=1,
                                     true_gain=2.0, true_offset=-2.0)
    docs_pdf, tiles_pdf = datagen.build_pair_tables(spec)
    docs, tiles = datagen.to_spark(spark, docs_pdf, tiles_pdf)
    fused = fuse(docs, tiles, model="gain-offset", kernel_shape=(5, 5),
                 r2_inpaint_thresh=None)

    return (_explode_px(fused, 8, {"gain": "gain", "offset": "offset"}, dp=6)
            .orderBy("r", "c"))


ORACLE_FUSE_GAIN_OFFSET_K5 = """
WITH px AS (
  SELECT r, c,
         CAST(1 + ((r * 10 + c) % 200) AS DOUBLE) AS ref,
         (1 + ((r * 10 + c) % 200) + 2.0) / 2.0 AS src
  FROM generate_series(0, 15) t1(r), generate_series(0, 15) t2(c)
  WHERE r BETWEEN 1 AND 14 AND c BETWEEN 1 AND 14
), nb AS (
  SELECT a.r, a.c, b.src AS x, b.ref AS y
  FROM px a JOIN px b
    ON b.r BETWEEN a.r - 2 AND a.r + 2 AND b.c BETWEEN a.c - 2 AND a.c + 2
), agg AS (
  SELECT r, c, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy
  FROM nb GROUP BY r, c
)
SELECT CAST(r AS INT) AS r, CAST(c AS INT) AS c,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS gain,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
           AS offset
FROM agg ORDER BY r, c
"""


def q_fuse_gain_blk_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BASELINE-metric model ORACLE-CHECKED per-pixel: gain-blk-offset,
    5×5 kernel, chunk=1 — scan → pairing → halo → block-norm
    (std + 1st percentile, reference ``kernel_model.py:216-229``) →
    sliding gain fit → fold (``kernel_model.py:276-303``) → tile emit.

    The fixture (``datagen.build_blknorm_tables``) makes every float32
    intermediate exact: per-chunk two-value checkerboards with equal counts
    give exact ``np.std``/``np.percentile``, and exactly-affine
    ``ref = G·src + C`` gives a sliding gain fit of exactly 1.0, so the
    folded params are exactly (G, C) per chunk.  DuckDB genuinely recomputes
    the block norm with ``stddev_pop`` + ``quantile_cont(0.01)`` and the
    5×5 window sums in float64 — identical doubles, no tolerance needed."""
    from homonim_spark import datagen
    from homonim_spark.operators.fuse import fuse

    docs_pdf, tiles_pdf = datagen.build_blknorm_tables()
    docs, tiles = datagen.to_spark(spark, docs_pdf, tiles_pdf)
    fused = fuse(docs, tiles, model="gain-blk-offset", kernel_shape=(5, 5),
                 chunk=1)

    return (_explode_px(fused, 16, {"gain": "gain", "offset": "offset"}, dp=6)
            .orderBy("r", "c"))


ORACLE_FUSE_GAIN_BLK_OFFSET = """
WITH base AS (
  SELECT r, c, 2 * (r // 16) + (c // 16) AS cell
  FROM generate_series(0, 31) t1(r), generate_series(0, 31) t2(c)
  WHERE (r % 16) BETWEEN 3 AND 12 AND (c % 16) BETWEEN 3 AND 12
), px AS (
  SELECT r, c, cell,
         CAST([4, 6, 8, 10][cell + 1] + 2 * ((r + c) % 2) AS DOUBLE) AS src,
         [2.0, 0.5, 1.5, 2.5][cell + 1]
           * CAST([4, 6, 8, 10][cell + 1] + 2 * ((r + c) % 2) AS DOUBLE)
           + [3.0, -1.0, 0.5, 2.0][cell + 1] AS ref
  FROM base
), norm AS (
  -- the reference's block 'normalisation' model (kernel_model.py:216-229):
  -- g = std(ref)/std(src), c = pct1(ref) - pct1(src)·g, block-scoped
  SELECT cell,
         stddev_pop(ref) / stddev_pop(src) AS g_norm,
         quantile_cont(ref, 0.01)
           - quantile_cont(src, 0.01) * (stddev_pop(ref) / stddev_pop(src)) AS c_norm
  FROM px GROUP BY cell
), nb AS (
  -- 5×5 sliding window (cross-cell reach impossible: interiors are ≥7px apart)
  SELECT a.r, a.c, a.cell, b.src AS x, b.ref AS y
  FROM px a JOIN px b ON b.r BETWEEN a.r - 2 AND a.r + 2
                     AND b.c BETWEEN a.c - 2 AND a.c + 2
), agg AS (
  SELECT r, c, cell, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy
  FROM nb GROUP BY r, c, cell
)
SELECT CAST(a.r AS INT) AS r, CAST(a.c AS INT) AS c,
       ROUND((sy / (g_norm * sx + c_norm * n)) * g_norm, 6) AS gain,
       ROUND((sy / (g_norm * sx + c_norm * n)) * c_norm, 6) AS offset
FROM agg a JOIN norm nm ON nm.cell = a.cell
ORDER BY r, c
"""


def q_overview_level1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 overview build ORACLE-CHECKED: one pyramid level over the
    closed-form gradient — each level-1 pixel is the NaN-aware mean of its
    2×2 children, which DuckDB reproduces from generate_series.  Only
    fully-valid interior pixels are emitted (partial border blocks divide
    by 1-3 → non-dyadic float32 values; interior /4 is exact)."""
    from homonim_spark import datagen
    from homonim_spark.operators.sink import build_overviews

    spec = datagen.RasterFixtureSpec(pair_id="ov1", cells=(2, 2), tile=8,
                                     factor=1, bands=1, nan_border_src=1)
    _, tiles_pdf = datagen.build_pair_tables(spec)
    ref = spark.createDataFrame(tiles_pdf).filter(F.col("role") == "ref")
    levels = build_overviews(ref.select("image_id", "band", "cell_id",
                                        "h", "w", "data"),
                             max_levels=1, min_px=8)
    return (_explode_px(levels[0], 8, {"data": "val"})
            .filter(F.col("r").between(1, 6) & F.col("c").between(1, 6))
            .orderBy("r", "c"))


ORACLE_OVERVIEW_LEVEL1 = """
WITH px AS (
  SELECT r, c, CAST(1 + ((r * 10 + c) % 200) AS DOUBLE) AS v
  FROM generate_series(0, 15) t1(r), generate_series(0, 15) t2(c)
  WHERE r BETWEEN 1 AND 14 AND c BETWEEN 1 AND 14
)
SELECT CAST(r // 2 AS INT) AS r, CAST(c // 2 AS INT) AS c,
       AVG(v) AS val
FROM px GROUP BY r // 2, c // 2
HAVING COUNT(*) = 4 AND (r // 2) BETWEEN 1 AND 6 AND (c // 2) BETWEEN 1 AND 6
ORDER BY r, c
"""


def q_raster_compare_k1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL raster compare path (A9/A10: tile decode → block-mean to
    proc grid → float64 partial sums → PCC²/RMSE/rRMSE), ORACLE-CHECKED:
    over the closed-form gradient pair every pixel value is a dyadic
    rational (src = ((band+1)·v + 2)/2), so the float64 sums are EXACT and
    DuckDB reproduces the statistics bit-for-bit from a generate_series
    rebuild of the pixel table (rounded to 6 dp on both sides)."""
    from homonim_spark import datagen
    from homonim_spark.operators.compare import compare

    spec = datagen.RasterFixtureSpec(pair_id="rc1", cells=(2, 2), tile=8,
                                     factor=2, bands=2,
                                     true_gain=2.0, true_offset=-2.0)
    _, tiles_pdf = datagen.build_pair_tables(spec)
    tiles = spark.createDataFrame(tiles_pdf)
    out = compare(tiles)
    return (out.select(F.col("band"),
                       F.round("r2", 6).alias("r2"),
                       F.round("rmse", 6).alias("rmse"),
                       F.round("rrmse", 6).alias("rrmse"),
                       F.col("n"))
            .orderBy("band"))


ORACLE_RASTER_COMPARE_K1 = """
WITH px AS (
  SELECT b.band AS band,
         CAST((b.band + 1) * (1 + ((r * 10 + c) % 200)) AS DOUBLE) AS ref,
         ((b.band + 1) * (1 + ((r * 10 + c) % 200)) + 2.0) / 2.0 AS src
  FROM generate_series(0, 15) t1(r), generate_series(0, 15) t2(c),
       (SELECT UNNEST([0, 1]) AS band) b
  WHERE r BETWEEN 1 AND 14 AND c BETWEEN 1 AND 14
), agg AS (
  SELECT band, COUNT(*) AS n,
         SUM(src) AS ss, SUM(ref) AS rs, SUM(src*src) AS s2,
         SUM(ref*ref) AS r2s, SUM(src*ref) AS sr,
         SUM(POW(ref - src, 2)) AS res2
  FROM px GROUP BY band
)
SELECT CAST(band AS INT) AS band,
       ROUND(POW((sr - n*(ss/n)*(rs/n)) /
             (SQRT(s2 - n*(ss/n)*(ss/n)) * SQRT(r2s - n*(rs/n)*(rs/n))), 2), 6) AS r2,
       ROUND(SQRT(res2 / n), 6) AS rmse,
       ROUND(SQRT(res2 / n) / (rs / n), 6) AS rrmse,
       CAST(n AS BIGINT) AS n
FROM agg ORDER BY band
"""


#: the media rows the PNG and WAV gate queries render from embeddings
_MEDIA_SCHEMA = T.StructType([T.StructField("media_ref", T.StringType()),
                              T.StructField("h", T.IntegerType()),
                              T.StructField("w", T.IntegerType()),
                              T.StructField("data", T.BinaryType())])


def q_media_features_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG decode path, ORACLE-CHECKED: render each embedding as a
    deterministically-quantized 8×8 greyscale PNG (pure-python codec,
    ``homonim_spark.pngio``), run the multimodal feature extractor over the
    compressed payloads, and emit per-image mean pixel values.  DuckDB
    reproduces the mean from the raw embeddings (floor((clip(x,-1,1)+1)
    ·127.5) — floor, not round, so float semantics match exactly), which
    pins the encode→decode round-trip numerically."""
    import numpy as np
    from homonim_spark.operators.multimodal import media_features
    from homonim_spark.pngio import write_png
    from homonim_spark.tiles import map_tile_batches

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 64)

    def to_png(vec_id, embedding):
        v = np.asarray(embedding, dtype=np.float64)
        q = np.clip(np.floor((np.clip(v, -1.0, 1.0) + 1.0) * 127.5), 0, 255).astype(np.uint8)
        yield (f"png://{vec_id:06d}", 8, 8,
               np.frombuffer(write_png(q.reshape(8, 8)), np.uint8))

    media = map_tile_batches(emb.select("vec_id", "embedding"), to_png, _MEDIA_SCHEMA)
    feats = media_features(media, codec="png")
    return (feats.select("media_ref", "width", "height",
                         F.round("mean", 6).alias("mean_px"))
            .orderBy("media_ref"))


ORACLE_MEDIA_FEATURES_PNG = """
SELECT 'png://' || lpad(CAST(vec_id AS VARCHAR), 6, '0') AS media_ref,
       8 AS width, 8 AS height,
       ROUND(list_aggregate(list_transform(embedding,
           x -> least(floor((least(greatest(CAST(x AS DOUBLE), -1), 1) + 1) * 127.5),
                      255)), 'avg'), 6) AS mean_px
FROM embeddings WHERE vec_id < 64 ORDER BY media_ref
"""


def q_media_features_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV (audio) decode path, ORACLE-CHECKED: render each embedding as a
    64-frame 16-bit PCM mono WAV (stdlib ``wave``), decode through the
    multimodal feature extractor, and emit mean sample values.  Samples are
    floor(clip(x,−1,1)·32767)/32768 — dyadic rationals, so the float32
    decode and the DuckDB float64 recomputation are bit-identical."""
    import io
    import wave as wavemod

    import numpy as np
    from homonim_spark.operators.multimodal import media_features
    from homonim_spark.tiles import map_tile_batches

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 64)

    def to_wav(vec_id, embedding):
        v = np.asarray(embedding, dtype=np.float64)
        s = np.floor(np.clip(v, -1.0, 1.0) * 32767.0).astype(np.int16)
        buf = io.BytesIO()
        with wavemod.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(16000)
            wf.writeframes(s.tobytes())
        yield f"wav://{vec_id:06d}", len(s), 1, np.frombuffer(buf.getvalue(), np.uint8)

    media = map_tile_batches(emb.select("vec_id", "embedding"), to_wav, _MEDIA_SCHEMA)
    feats = media_features(media, codec="wav")
    return (feats.select("media_ref",
                         F.col("height").alias("n_frames"),
                         F.col("width").alias("n_channels"),
                         F.round("mean", 6).alias("mean_sample"))
            .orderBy("media_ref"))


ORACLE_MEDIA_FEATURES_WAV = """
SELECT 'wav://' || lpad(CAST(vec_id AS VARCHAR), 6, '0') AS media_ref,
       64 AS n_frames, 1 AS n_channels,
       ROUND(list_aggregate(list_transform(embedding,
           x -> floor(least(greatest(CAST(x AS DOUBLE), -1), 1) * 32767.0)
                / 32768.0), 'avg'), 6) AS mean_sample
FROM embeddings WHERE vec_id < 64 ORDER BY media_ref
"""


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sort BELOW the profile: the range exchange both redistributes the
    # single-row-group scan across all cores and avoids the orderBy-on-top
    # form, whose range-boundary sampling recomputes the whole profile
    # projection a second time (guide §2.4 — establish partitioning once);
    # projections preserve the sort, so the result order is identical
    from homonim_spark.operators.textops import text_profile
    docs = _t(spark, sf_dir, "documents")
    return text_profile(docs.orderBy("doc_id"))


ORACLE_TEXT_PROFILE = r"""
WITH toks AS (
  SELECT doc_id, text,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN []
              ELSE string_split_regex(TRIM(text), '\s+') END AS tok
  FROM documents
)
SELECT doc_id,
       CAST(len(tok) AS INT) AS n_tokens,
       CAST(len(string_split_regex(TRIM(text), '[^A-Za-z0-9]+'))
            + FLOOR(LENGTH(regexp_replace(text, '\s+', '', 'g')) / 16) AS BIGINT) AS n_bpe_tokens,
       CAST(LENGTH(text) AS INT) AS n_chars,
       ROUND(len(list_filter(list_transform(tok, t -> LOWER(t)),
             t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be'], t)))
             / GREATEST(len(tok), 1), 6) AS stopword_ratio,
       ROUND((LENGTH(text) - LENGTH(regexp_replace(text, '[^\w\s]', '', 'g')))
             / GREATEST(LENGTH(text), 1), 6) AS punct_ratio,
       ROUND(list_sum(list_transform(tok, t -> CAST(LENGTH(t) AS DOUBLE)))
             / GREATEST(len(tok), 1), 6) AS mean_word_len,
       ROUND(0.4 * LEAST(LN(1 + LENGTH(text)) / 8.0, 1.0)
           + 0.4 * LEAST(4 * len(list_filter(list_transform(tok, t -> LOWER(t)),
                 t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be'], t)))
                 / GREATEST(len(tok), 1), 1.0)
           + 0.2 * (1.0 - LEAST(5 * (LENGTH(text) - LENGTH(regexp_replace(text, '[^\w\s]', '', 'g')))
                 / GREATEST(LENGTH(text), 1), 1.0)), 6) AS quality,
       CASE WHEN len(list_filter(list_transform(tok, t -> LOWER(t)),
                 t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be'], t)))
                 / GREATEST(len(tok), 1) >= 0.05
            THEN 'en' ELSE 'unk' END AS lang_pred,
       md5(regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS fingerprint
FROM toks ORDER BY doc_id
"""

# span_text_profile reassembles the wrapped spans back into the flat text,
# so its profile oracle is the flat-text profile + the media-span count
# (2 when the text was split at a space, 1 otherwise)
ORACLE_SPAN_TEXT_PROFILE = (
    "SELECT p.*, CAST(CASE WHEN strpos(d.text, ' ') > 0 THEN 2 ELSE 1 END"
    " AS INT) AS n_media_spans FROM ("
    + ORACLE_TEXT_PROFILE.replace("FROM toks ORDER BY doc_id", "FROM toks")
    + ") p JOIN documents d USING (doc_id) ORDER BY doc_id"
)


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary pass: top-50 words by document frequency."""
    from homonim_spark.operators.textops import vocabulary_stats
    docs = _tp(spark, sf_dir, "documents")
    return vocabulary_stats(docs, top_k=50)


ORACLE_VOCAB_TOPK = r"""
WITH words AS (
  SELECT doc_id, UNNEST(string_split_regex(
    TRIM(regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g')), '\s+')) AS word
  FROM documents
)
SELECT word, CAST(COUNT(*) AS BIGINT) AS tf,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
FROM words WHERE LENGTH(word) > 0
GROUP BY word ORDER BY df DESC, tf DESC, word ASC LIMIT 50
"""


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution (100-char bins)."""
    from homonim_spark.operators.textops import length_histogram
    docs = _t(spark, sf_dir, "documents")
    return length_histogram(docs, bucket=100)


ORACLE_LENGTH_HISTOGRAM = """
SELECT CAST(FLOOR(LENGTH(text) / 100) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
FROM documents GROUP BY 1 ORDER BY bucket
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups over all docs (md5 is bit-identical in DuckDB)."""
    from homonim_spark.operators.textops import fingerprint
    docs = _tp(spark, sf_dir, "documents")
    return (
        docs.select(F.col("doc_id"), fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_docs"))
        .orderBy("fingerprint")
    )


ORACLE_DEDUP_EXACT = r"""
SELECT md5(regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS fingerprint,
       MIN(doc_id) AS canonical_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents GROUP BY 1 ORDER BY fingerprint
"""


def _stream_source(spark: SparkSession, sf_dir: str, table: str,
                   cast_ts: bool = False):
    """File-stream a driver parquet table in ONE availableNow trigger:
    the source wants a directory, the driver table is a single file —
    expose it through a temp dir of symlinks.  ``cast_ts``: parquet
    TIMESTAMP_NTZ → TIMESTAMP (watermarks need an instant; the session
    tz is pinned UTC in get_spark, so the cast is exact)."""
    import os
    import tempfile

    path = f"{sf_dir}/{table}.parquet"
    schema = spark.read.parquet(path).schema
    src_dir = tempfile.mkdtemp(prefix=f"homonim-stream-{table}-")
    os.symlink(os.path.abspath(path), os.path.join(src_dir, "part-0.parquet"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 100000).parquet(src_dir))
    if cast_ts:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _run_to_memory(out: DataFrame):
    """Run a streaming DataFrame to a memory sink with availableNow +
    checkpoint; returns the committed result as a batch DataFrame."""
    import tempfile
    import uuid

    name = f"gate_stream_{uuid.uuid4().hex[:8]}"
    ck = tempfile.mkdtemp(prefix="homonim-stream-ck-")
    (out.writeStream.outputMode("append").format("memory")
     .queryName(name).option("checkpointLocation", ck)
     .trigger(availableNow=True).start().awaitTermination())
    return out.sparkSession.table(name)


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming exact dedup through the driver gate,
    ORACLE-CHECKED: the documents table streams through
    ``streaming_dedup_exact`` (applyInPandasWithState keyed by fingerprint,
    availableNow trigger, durable checkpoint) and each fingerprint's first
    emission is its canonical doc — with the whole table in one trigger the
    canonical is min(doc_id), which DuckDB reproduces relationally.  Pins
    the stateful-streaming path (state store, Arrow state codec, append
    mode) to the same answer as the batch operator."""
    from homonim_spark.streaming import streaming_dedup_exact

    stream = (_stream_source(spark, sf_dir, "documents")
              # the stateful operator keys string doc ids; canonical is then
              # the LEXICOGRAPHIC min — the oracle casts to VARCHAR to match
              .withColumn("doc_id", F.col("doc_id").cast("string")))
    return (_run_to_memory(streaming_dedup_exact(stream))
            .select("fingerprint", F.col("doc_id").alias("canonical_doc_id"))
            .orderBy("fingerprint"))


ORACLE_STREAMING_DEDUP = r"""
SELECT md5(regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS fingerprint,
       MIN(CAST(doc_id AS VARCHAR)) AS canonical_doc_id
FROM documents WHERE text IS NOT NULL GROUP BY 1 ORDER BY fingerprint
"""


def q_streaming_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked event-time window aggregation through the REAL
    Structured Streaming engine, ORACLE-CHECKED: the events table streams
    in (availableNow), tumbling 1-minute windows aggregate count/avg per
    event_type under a 2-minute watermark, and append mode emits exactly
    the windows FINALIZED by the terminal watermark (max event time − 2
    min; the trailing windows stay in state — that retention IS the
    late-data semantics).  DuckDB reproduces the answer relationally:
    date_trunc windows + the same terminal-watermark cutoff.  Window
    bounds go out as epoch seconds so the value hash is timezone- and
    resolution-independent."""
    from homonim_spark.streaming import windowed_event_stats

    stream = _stream_source(spark, sf_dir, "events", cast_ts=True)
    out = windowed_event_stats(stream, window="1 minute",
                               watermark="2 minutes")
    return (_run_to_memory(out)
            .select(F.unix_timestamp("win_start").alias("win_start"),
                    F.unix_timestamp("win_end").alias("win_end"),
                    "event_type", F.col("n").cast("long").alias("n"),
                    F.round("avg_value", 6).alias("avg_value"))
            .orderBy("win_start", "event_type"))


ORACLE_STREAMING_WINDOW = r"""
WITH wm AS (
  SELECT MAX(ts) - INTERVAL 2 MINUTE AS w FROM events
)
SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS win_start,
       CAST(epoch(date_trunc('minute', ts) + INTERVAL 1 MINUTE) AS BIGINT)
         AS win_end,
       event_type, COUNT(*) AS n, ROUND(AVG(value), 6) AS avg_value
FROM events, wm
GROUP BY 1, 2, 3
-- compare against the FRACTIONAL watermark (no CAST: DuckDB's
-- BIGINT cast rounds half-up, which would admit a window Spark still
-- retains whenever max(ts) has fraction >= .5 in its cutoff second)
HAVING win_end <= (SELECT epoch(w) FROM wm)
ORDER BY win_start, event_type
"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val split assignment, ORACLE-CHECKED: docs are
    bucketed by md5(doc_id∥salt) (first 8 hex chars mod 1000 — stable
    across runs, partitionings, and ENGINES, unlike rand(seed) or
    xxhash64), 70% train / 20% val / 10% unassigned.  DuckDB re-derives
    every membership with the same one-line hash, pinning per-split
    counts, id ranges, and total text length exactly — the auditability
    property a training pipeline's holdout split actually needs."""
    from homonim_spark.operators.sampling import hash_split
    docs = _t(spark, sf_dir, "documents")
    out = hash_split(docs, "doc_id", {"train": 0.7, "val": 0.2},
                     salt="r4")
    return (out.groupBy(F.coalesce("split", F.lit("none")).alias("split"))
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("min_doc"),
                 F.max("doc_id").alias("max_doc"),
                 F.sum(F.length("text")).alias("total_chars"))
            .orderBy("split"))


ORACLE_HASH_SPLIT = r"""
WITH b AS (
  SELECT doc_id, text,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'r4'), 1, 8)
              AS BIGINT) % 1000 AS bkt
  FROM documents
)
SELECT CASE WHEN bkt < 700 THEN 'train'
            WHEN bkt < 900 THEN 'val'
            ELSE 'none' END AS split,
       COUNT(*) AS n_docs, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
FROM b GROUP BY 1 ORDER BY split
"""


def q_passage_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking passage overlap, ORACLE-CHECKED: documents
    split at polynomial-rolling-hash boundaries (window 16, cut prob 1/64
    — boundaries depend only on local content, so shared PASSAGES chunk
    identically wherever they appear), chunks fingerprinted with md5, and
    pairs sharing ≥ 2 distinct chunks reported.  This catches partial
    duplication / benchmark contamination that whole-doc fingerprints and
    global-similarity MinHash miss.  The boundary hash is exact integer
    arithmetic (codepoint · pʲ mod 2³¹−1) with the power table
    single-sourced from `_cdc_ppow`; chunk fingerprints are two packed
    31-bit Horner hashes (vectorized via modular prefix sums in the
    engine, replayed as a `list_reduce` fold in DuckDB) — so boundary
    placement, chunking, and the inverted-index join are replayed
    position-for-position."""
    from homonim_spark.operators.dedup import passage_overlap_pairs
    docs = _t(spark, sf_dir, "documents")
    return (passage_overlap_pairs(docs)
            .select("doc_a", "doc_b",
                    F.col("shared_chunks").cast("long").alias("shared_chunks"))
            .orderBy("doc_a", "doc_b"))


def _oracle_passage_overlap() -> str:
    from homonim_spark.operators.dedup import CDC_WINDOW, _CDC_FP, _cdc_ppow
    ppow = "[" + ", ".join(str(v) for v in _cdc_ppow(CDC_WINDOW)) + "]"
    (q1, m1), (q2, m2) = _CDC_FP
    return f"""
WITH docs AS (
  SELECT doc_id, regexp_replace(LOWER(TRIM(text)), '\\s+', ' ', 'g') AS t
  FROM documents WHERE text IS NOT NULL
), nz AS (
  SELECT doc_id, t FROM docs WHERE LENGTH(t) > 0
), pos AS (
  SELECT doc_id, t,
         UNNEST(range(0, GREATEST(LENGTH(t) - {CDC_WINDOW} + 1, 0))) AS i
  FROM nz
), cuts AS (
  SELECT doc_id, i + {CDC_WINDOW} AS cut
  FROM pos
  WHERE (list_sum(list_transform(range(0, {CDC_WINDOW}), j ->
           (CAST(unicode(substr(t, CAST(i + j + 1 AS INT), 1)) AS BIGINT)
            * ({ppow})[CAST(j + 1 AS INT)]) % 2147483647))
         % 2147483647) % 64 = 0
), bounds AS (
  SELECT n.doc_id, n.t,
         list_sort(list_distinct(list_prepend(0,
           list_append(COALESCE(c.cs, []), CAST(LENGTH(n.t) AS BIGINT)))))
           AS bs
  FROM nz n LEFT JOIN (SELECT doc_id, list(cut) AS cs FROM cuts
                       GROUP BY doc_id) c USING (doc_id)
), bnds AS (
  SELECT doc_id, t,
         UNNEST(list_transform(range(1, len(bs)), k -> struct_pack(
           a := bs[CAST(k AS INT)], b := bs[CAST(k + 1 AS INT)]))) AS ab
  FROM bounds
), chunks AS (
  -- two packed 31-bit Horner folds over the chunk's code points — the
  -- exact arithmetic of the engine's vectorized prefix-sum form
  SELECT doc_id,
         list_reduce(list_transform(range(1, CAST(ab.b - ab.a AS INT) + 1),
             j -> CAST(unicode(substr(t, CAST(ab.a + j AS INT), 1)) AS BIGINT)),
           (acc, c) -> (acc * {q1} + c) % {m1}) * 2147483648
       + list_reduce(list_transform(range(1, CAST(ab.b - ab.a AS INT) + 1),
             j -> CAST(unicode(substr(t, CAST(ab.a + j AS INT), 1)) AS BIGINT)),
           (acc, c) -> (acc * {q2} + c) % {m2}) AS chunk_fp
  FROM bnds
), cf AS (
  SELECT DISTINCT doc_id, chunk_fp FROM chunks
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       COUNT(*) AS shared_chunks
FROM cf a JOIN cf b ON a.chunk_fp = b.chunk_fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY doc_a, doc_b
"""


ORACLE_PASSAGE_OVERLAP = _oracle_passage_overlap()


def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState session
    windows), ORACLE-CHECKED: with the whole events table in ONE
    availableNow trigger, stateful_sessionize emits exactly the CLOSED
    sessions — every gap > 30 min splits — while each user's final
    session stays in state awaiting its processing-time timeout.  That
    retention is the operator's correctness property, and it makes the
    answer relational: DuckDB sessionizes with lag/sum windows and drops
    each user's last session.  Timestamps compare as epoch micros;
    per-session value sums round to 6dp (python accumulates in event
    order, SQL SUM in scan order)."""
    from homonim_spark.streaming import data_batches_only, stateful_sessionize

    stream = _stream_source(spark, sf_dir, "events", cast_ts=True)
    # batch 0 holds all data, hence every gap-closed session; without
    # no-data batches the query ends after it, before any state timeout
    # can emit, so the answer is exactly the closed sessions
    with data_batches_only(spark):
        sessions = _run_to_memory(stateful_sessionize(stream))
    return (sessions
            .select("user_id",
                    F.unix_micros("sess_start").alias("start_us"),
                    F.unix_micros("sess_end").alias("end_us"),
                    "n_events",
                    F.round("sess_value", 6).alias("sess_value"))
            .orderBy("user_id", "start_us"))


ORACLE_STREAMING_SESSIONIZE = r"""
WITH e AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
              OR ts - LAG(ts) OVER w > INTERVAL 1800 SECOND
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts, value,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM e
), agg AS (
  SELECT user_id, sid,
         CAST(epoch_us(MIN(ts)) AS BIGINT) AS start_us,
         CAST(epoch_us(MAX(ts)) AS BIGINT) AS end_us,
         COUNT(*) AS n_events, ROUND(SUM(value), 6) AS sess_value,
         MAX(sid) OVER (PARTITION BY user_id) AS last_sid
  FROM s GROUP BY user_id, sid
)
SELECT user_id, start_us, end_us, n_events, sess_value
FROM agg WHERE sid < last_sid
ORDER BY user_id, start_us
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, ORACLE-CHECKED against DuckDB's native ASOF JOIN: each
    purchase event matched to the same user's most recent click at-or-
    before it (left outer; unmatched → -1 sentinels so the value hash is
    null-representation-independent).  The engine has no ASOF primitive —
    operators.timeseries.asof_join uses the union-sort-fill pattern (ONE
    hash exchange + per-partition sort + ignore-nulls running last), not
    a range join, so candidate volume never explodes at scale."""
    from homonim_spark.operators.timeseries import asof_join
    ev = (_t(spark, sf_dir, "events")
          .withColumn("ts", F.col("ts").cast("timestamp")))
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    c = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    out = asof_join(p, c, by=["user_id"])
    return (out.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"),
        F.coalesce("event_id_right", F.lit(-1)).alias("click_event_id"),
        F.coalesce(F.unix_micros("ts") - F.unix_micros("ts_right"),
                   F.lit(-1)).alias("gap_us"))
        .orderBy("event_id"))


ORACLE_ASOF_JOIN = r"""
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT event_id AS click_event_id, user_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
)
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       COALESCE(c.click_event_id, -1) AS click_event_id,
       COALESCE(epoch_us(p.ts) - epoch_us(c.click_ts), -1) AS gap_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.click_ts
ORDER BY event_id
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join, ORACLE-CHECKED against a plain BETWEEN
    join: events land in quadratic-width value bands (plus one wide
    overlapping band, so multi-match rows are exercised).  Catalyst plans
    the raw inequality join as BroadcastNestedLoopJoin — O(|L|·|R|)
    compares; operators.timeseries.range_join explodes intervals into
    fixed-width buckets and equi-joins on the bucket, shuffling hash-
    partitioned candidates only.  Band bounds are i²·0.83 computed as
    float64 in BOTH engines (identical IEEE ops → identical boundary
    comparisons)."""
    from homonim_spark.operators.timeseries import range_join
    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    rows = [(i, i * i * 0.83, (i + 1) * (i + 1) * 0.83) for i in range(12)]
    rows.append((100, 10 * 0.83, 60 * 0.83))
    bands = spark.createDataFrame(rows, "band_id long, lo double, hi double")
    out = range_join(ev, bands, "value", "lo", "hi", bucket_width=8.0)
    return (out.select("event_id", "band_id", "value")
            .orderBy("event_id", "band_id"))


ORACLE_RANGE_JOIN = r"""
WITH bands AS (
  SELECT CAST(i AS BIGINT) AS band_id,
         i * i * CAST(0.83 AS DOUBLE) AS lo,
         (i+1) * (i+1) * CAST(0.83 AS DOUBLE) AS hi
  FROM range(0, 12) t(i)
  UNION ALL
  SELECT 100, 10 * CAST(0.83 AS DOUBLE), 60 * CAST(0.83 AS DOUBLE)
)
SELECT e.event_id, b.band_id, e.value
FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
ORDER BY event_id, band_id
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs (inverted-index join, threshold 0.5)."""
    from homonim_spark.operators.dedup import jaccard_pairs
    docs = _t(spark, sf_dir, "documents")
    return jaccard_pairs(docs, n=3, threshold=0.5).orderBy("doc_a", "doc_b")


ORACLE_NGRAM_JACCARD = r"""
WITH norm AS (
  SELECT doc_id, string_split_regex(TRIM(regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g')), '\s+') AS tok
  FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(tok) >= 3 THEN
           list_distinct(list_transform(generate_series(1, len(tok) - 2),
             i -> concat_ws(' ', tok[i], tok[i+1], tok[i+2])))
         ELSE [concat_ws(' ', list_aggregate(tok, 'string_agg', ' '))] END AS shingles
  FROM norm
), sizes AS (
  SELECT doc_id, len(shingles) AS n_sh FROM sh
), inv AS (
  SELECT doc_id, UNNEST(shingles) AS s FROM sh
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
ORDER BY doc_a, doc_b
"""


def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup (answer = exact Jaccard ≥ 0.8 on LSH candidates;
    with 16 bands × 4 rows recall at 0.8 is 0.9992, and the oracle defines
    the answer by exact Jaccard)."""
    from homonim_spark.operators.dedup import minhash_near_duplicates
    docs = _t(spark, sf_dir, "documents")
    return minhash_near_duplicates(docs, threshold=0.8).orderBy("doc_a", "doc_b")


ORACLE_MINHASH_NEARDUP = ORACLE_NGRAM_JACCARD.replace(">= 0.5", ">= 0.8")


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTER collapse, ORACLE-CHECKED: connected
    components (min-label propagation + pointer jumping) over the MinHash
    near-dup pairs; DuckDB recomputes the same components with a recursive
    transitive-closure CTE over the identical (oracle-green) pair set."""
    from homonim_spark.operators.dedup import (duplicate_clusters,
                                               minhash_near_duplicates)
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, threshold=0.8)
    return duplicate_clusters(pairs).orderBy("doc_id")


ORACLE_NEARDUP_CLUSTERS = (
    "WITH RECURSIVE pairs AS (\n"
    + ORACLE_MINHASH_NEARDUP.replace("ORDER BY doc_a, doc_b", "")
    + "\n), edges AS (\n"
    "  SELECT doc_a AS a, doc_b AS b FROM pairs\n"
    "  UNION SELECT doc_b, doc_a FROM pairs\n"
    "), reach(a, b) AS (\n"
    "  SELECT a, a FROM (SELECT DISTINCT a FROM edges)\n"
    "  UNION SELECT e.a, r.b FROM edges e JOIN reach r ON r.a = e.b\n"
    ")\n"
    "SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a "
    "ORDER BY doc_id"
)


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, ORACLE-CHECKED per pair: the gate runs the
    pipeline with ``hash_fn='md5'`` (64-bit token hash = first 16 md5 hex
    chars, reproducible in any engine), so DuckDB can recompute every
    signature bit (nibble arithmetic on md5 hex), brute-force all pair
    Hamming distances, and pin the banding+verify answer exactly.  The
    production default stays xxhash64 (JVM codegen, no md5 round-trip);
    both paths share ONE aggregate pass and are pinned against planted
    near/exact duplicates in tests/test_textops.py."""
    from homonim_spark.operators.dedup import simhash_near_duplicates
    docs = _t(spark, sf_dir, "documents")
    return (simhash_near_duplicates(docs, max_hamming=3, hash_fn="md5")
            .select("doc_a", "doc_b",
                    F.col("hamming").cast("long").alias("hamming"))
            .orderBy("doc_a", "doc_b"))


ORACLE_SIMHASH_NEARDUP = r"""
WITH toks AS (
  SELECT doc_id, UNNEST(list_distinct(string_split_regex(
    TRIM(regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g')), '\s+'))) AS tok
  FROM documents WHERE text IS NOT NULL
), bitv AS (
  SELECT doc_id, b.j,
         SUM(CASE WHEN ((CAST('0x' || substr(md5(tok), 16 - b.j//4, 1) AS INT)
                         >> (b.j % 4)) & 1) = 1 THEN 1 ELSE -1 END) AS v
  FROM toks CROSS JOIN (SELECT UNNEST(range(0, 64)) AS j) b
  GROUP BY doc_id, b.j
), sigs AS (
  SELECT doc_id,
         CAST(string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, ''
                         ORDER BY j DESC) AS BIT) AS sig
  FROM bitv GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 3
ORDER BY doc_a, doc_b
"""


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH approximate top-k, ORACLE-CHECKED: the answer is
    *approximate vs brute force* but fully DETERMINISTIC given the seeded
    hyperplanes, so DuckDB replays the whole pipeline — the same plane
    matrix as SQL literals (exact float round-trip via repr), sign-bucket
    assignment, Hamming-1 multi-probe expansion, candidate join, exact
    cosine rerank — and pins bucket bits, candidate sets, and ranking
    exactly.  Recall vs the exact similarity_topk is separately pinned in
    tests/test_textops.py."""
    from homonim_spark.operators.similarity import lsh_topk
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return lsh_topk(emb, q, dim=64, k=5).orderBy("query_id", "rank")


def _srp_planes_values() -> str:
    """The seeded SRP hyperplanes of ``lsh_topk(dim=64)`` (8 planes, seed
    42) as a SQL VALUES list — float64 repr round-trips exactly, so
    DuckDB's plane matrix is bit-identical to the one srp_buckets
    broadcasts to executors."""
    from homonim_spark.operators.similarity import make_planes
    return ",\n    ".join(
        "(%d, [%s])" % (i, ", ".join(repr(float(x)) for x in p))
        for i, p in enumerate(make_planes(64, 8)))


ORACLE_ANN_LSH_TOPK = f"""
WITH planes(pid, p) AS (
  VALUES {_srp_planes_values()}
), vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), buckets AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN list_dot_product(v, p) > 0
                       THEN 1 << pid ELSE 0 END) AS BIGINT) AS bucket
  FROM vecs CROSS JOIN planes GROUP BY vec_id
), qprobes AS (
  SELECT vec_id AS query_id,
         UNNEST(list_prepend(bucket,
           list_transform(range(0, 8),
                          i -> xor(bucket, CAST(1 << i AS BIGINT))))) AS bucket
  FROM buckets WHERE vec_id < 5
), cand AS (
  SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
  FROM qprobes p JOIN buckets c ON c.bucket = p.bucket
  WHERE c.vec_id != p.query_id
), scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_dot_product(q.v, n.v)
           / (SQRT(list_dot_product(q.v, q.v))
              * SQRT(list_dot_product(n.v, n.v))) AS cosine
  FROM cand
  JOIN vecs q ON q.vec_id = cand.query_id
  JOIN vecs n ON n.vec_id = cand.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, ROUND(cosine, 6) AS cosine, rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k, ORACLE-CHECKED: the gate runs the full
    distributed search path — Arrow-batched GEMM centroid assignment,
    nprobe=2 probe ordering (ties → higher list id), inverted-list join,
    exact cosine rerank — against FIXED seeded centroids, which DuckDB
    holds as SQL literals (normalized with the engine's exact numpy
    formula, float repr round-trip) and replays relationally.  The
    data-derived k-means trainer (train_ivf_centroids: hash-filter
    sample + driver Lloyd iterations) is numpy-internal and pinned by the
    recall test in tests/test_textops.py instead."""
    from homonim_spark.operators.similarity import ivf_topk
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return ivf_topk(emb, q, _gate_centroids(), k=5,
                    nprobe=2).orderBy("query_id", "rank")


def _gate_centroids():
    """The gate's fixed seeded centroid matrix — ONE definition shared by
    the Spark query and the oracle builder below."""
    import numpy as np
    return np.random.default_rng(7).standard_normal((8, 64))


def _ivf_centroid_values() -> str:
    """The gate centroids as SQL literals, normalized by the SAME
    similarity.normalize_centroids the executors apply inside ivf_topk —
    the literals cannot drift from the executor matrix without the gate
    hash catching it, because there is no second copy of the formula."""
    from homonim_spark.operators.similarity import normalize_centroids
    return ",\n    ".join(
        "(%d, [%s])" % (i, ", ".join(repr(float(x)) for x in c))
        for i, c in enumerate(normalize_centroids(_gate_centroids())))


ORACLE_ANN_IVF_TOPK = f"""
WITH cents(cid, c) AS (
  VALUES {_ivf_centroid_values()}
), vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), lists AS (
  SELECT vec_id AS neighbor_id, cid AS list_id FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY list_dot_product(v, c) DESC, cid ASC) AS rn
    FROM vecs CROSS JOIN cents) WHERE rn = 1
), qprobe AS (
  SELECT vec_id AS query_id, cid AS list_id FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY list_dot_product(v, c) DESC, cid DESC) AS rn
    FROM vecs CROSS JOIN cents WHERE vec_id < 5) WHERE rn <= 2
), cand AS (
  SELECT DISTINCT q.query_id, l.neighbor_id
  FROM qprobe q JOIN lists l USING (list_id)
  WHERE l.neighbor_id != q.query_id
), scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_dot_product(q.v, n.v)
           / (SQRT(list_dot_product(q.v, q.v))
              * SQRT(list_dot_product(n.v, n.v))) AS cosine
  FROM cand
  JOIN vecs q ON q.vec_id = cand.query_id
  JOIN vecs n ON n.vec_id = cand.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, ROUND(cosine, 6) AS cosine, rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for the first 10 vectors (exact ANN baseline) via
    the BLAS scale path: one GEMM per Arrow batch, per-partition partial
    top-k (map-side combine), final rank over n_part × n_q × k rows only.
    Rank ties broken by neighbor id; cosine rounded to 4dp for cross-engine
    float stability."""
    from homonim_spark.operators.similarity import cosine_topk_np
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return (
        cosine_topk_np(emb, q, k=5, round_dp=4)
        .select(F.col("query_id").cast("long"), F.col("neighbor_id").cast("long"),
                "cosine", "rank")
        .orderBy("query_id", "rank")
    )


ORACLE_SIMILARITY_TOPK = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.q_vec, e.embedding)
               / (SQRT(list_dot_product(q.q_vec, q.q_vec))
                  * SQRT(list_dot_product(e.embedding, e.embedding))), 4) AS cosine
  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(neighbor_id AS BIGINT) AS neighbor_id,
       cosine, rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact mode for the oracle check;
    the SRP-bucketed scale path is operators.similarity.embedding_near_duplicates)."""
    from homonim_spark.operators.similarity import embedding_near_duplicates
    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_near_duplicates(emb, threshold=0.45, exact=True)
    return out.select(
        F.col("vec_a").cast("long"), F.col("vec_b").cast("long"),
        F.round("cosine", 4).alias("cosine"),
    ).orderBy("vec_a", "vec_b")


ORACLE_EMBEDDING_NEARDUP = """
SELECT CAST(a.vec_id AS BIGINT) AS vec_a, CAST(b.vec_id AS BIGINT) AS vec_b,
       ROUND(list_dot_product(a.embedding, b.embedding)
             / (SQRT(list_dot_product(a.embedding, a.embedding))
                * SQRT(list_dot_product(b.embedding, b.embedding))), 4) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.embedding, b.embedding)
      / (SQRT(list_dot_product(a.embedding, a.embedding))
         * SQRT(list_dot_product(b.embedding, b.embedding))) >= 0.45
ORDER BY vec_a, vec_b
"""


# ---------------------------------------------------------------------------
# raster-pipeline operators (each ORACLE-CHECKED unless approximate by design)
# ---------------------------------------------------------------------------

def _rounded_stats(stats: DataFrame) -> DataFrame:
    """param_stats output rounded for the hash gate (+0.0 folds -0.0)."""
    return stats.select(
        "image_id", "band", "param",
        (F.round("mean", 6) + F.lit(0.0)).alias("mean"),
        (F.round("std", 6) + F.lit(0.0)).alias("std"),
        (F.round("min", 6) + F.lit(0.0)).alias("min"),
        (F.round("max", 6) + F.lit(0.0)).alias("max"),
        (F.round("inpaint_p", 6) + F.lit(0.0)).alias("inpaint_p"),
        F.col("n").cast("long").alias("n"),
    ).orderBy("image_id", "band", "param")


def q_fuse_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 param stats over a gain-model fuse, ORACLE-CHECKED end-to-end:
    on this dyadic fixture ref = 2·src EXACTLY (true_offset=0), so every
    float32 kernel sum is exact, the sliding gain fit is exactly 2.0, the
    offset plane exactly 0 and R² exactly 1 at every proc pixel.  DuckDB
    genuinely recomputes the per-pixel fit (window sums + RSS/TSS R²
    expansion, reference ``kernel_model.py:201``) from generate_series and
    aggregates with the cumulative-std formula (``stats.py:184``)."""
    from homonim_spark import datagen
    from homonim_spark.operators.fuse import fuse
    from homonim_spark.operators.stats import param_stats

    spec = datagen.RasterFixtureSpec(pair_id="gs", cells=(2, 2), tile=8,
                                     factor=2, bands=1,
                                     true_gain=2.0, true_offset=0.0)
    docs_pdf, tiles_pdf = datagen.build_pair_tables(spec)
    docs, tiles = datagen.to_spark(spark, docs_pdf, tiles_pdf)
    fused = fuse(docs, tiles, model="gain", kernel_shape=(5, 5), find_r2=True)
    return _rounded_stats(param_stats(fused, model="gain"))


ORACLE_FUSE_GAIN = """
WITH px AS (
  SELECT r, c, CAST(1 + ((r * 10 + c) % 200) AS DOUBLE) AS ref,
         (1 + ((r * 10 + c) % 200)) / 2.0 AS src
  FROM generate_series(0, 15) t1(r), generate_series(0, 15) t2(c)
  WHERE r BETWEEN 1 AND 14 AND c BETWEEN 1 AND 14
), nb AS (
  SELECT a.r, a.c, b.src AS x, b.ref AS y
  FROM px a JOIN px b ON b.r BETWEEN a.r - 2 AND a.r + 2
                     AND b.c BETWEEN a.c - 2 AND a.c + 2
), agg AS (
  SELECT r, c, COUNT(*) AS m, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
  FROM nb GROUP BY r, c
), fit AS (
  SELECT r, c, sy / sx AS gain, 0.0 AS "offset",
         1.0 - ((POW(sy / sx, 2) * sxx - 2 * (sy / sx) * sxy + syy) * m)
             / (m * syy - sy * sy) AS r2
  FROM agg
), tall AS (
  SELECT 'gain' AS param, gain AS v FROM fit
  UNION ALL SELECT 'offset', "offset" FROM fit
  UNION ALL SELECT 'r2', r2 FROM fit
)
SELECT 'gs' AS image_id, CAST(0 AS INT) AS band, param,
       ROUND(SUM(v) / COUNT(*), 6) + 0.0 AS mean,
       ROUND(SQRT(GREATEST(SUM(v * v) / COUNT(*)
             - POW(SUM(v) / COUNT(*), 2), 0)), 6) + 0.0 AS std,
       ROUND(MIN(v), 6) + 0.0 AS min, ROUND(MAX(v), 6) + 0.0 AS max,
       CAST(NULL AS DOUBLE) AS inpaint_p,
       CAST(COUNT(*) AS BIGINT) AS n
FROM tall GROUP BY param ORDER BY param
"""


def q_fuse_gain_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Param stats over a gain-offset (OLS) fuse, ORACLE-CHECKED: on the
    dyadic fixture ref = 2·src − 2 EXACTLY, so the per-window OLS recovers
    exactly (2, −2), R² is exactly 1 and no inpainting triggers; the r2
    row's ``inpaint_p`` is genuinely recomputed (share of R² < 0.25 = 0).
    DuckDB redoes the full OLS + R² expansion per pixel and aggregates."""
    from homonim_spark import datagen
    from homonim_spark.operators.fuse import fuse
    from homonim_spark.operators.stats import param_stats

    spec = datagen.RasterFixtureSpec(pair_id="gos", cells=(2, 2), tile=8,
                                     factor=2, bands=1,
                                     true_gain=2.0, true_offset=-2.0)
    docs_pdf, tiles_pdf = datagen.build_pair_tables(spec)
    docs, tiles = datagen.to_spark(spark, docs_pdf, tiles_pdf)
    fused = fuse(docs, tiles, model="gain-offset", kernel_shape=(5, 5),
                 find_r2=True, r2_inpaint_thresh=0.25)
    return _rounded_stats(param_stats(fused, model="gain-offset"))


ORACLE_FUSE_GAIN_OFFSET = """
WITH px AS (
  SELECT r, c, CAST(1 + ((r * 10 + c) % 200) AS DOUBLE) AS ref,
         (1 + ((r * 10 + c) % 200) + 2.0) / 2.0 AS src
  FROM generate_series(0, 15) t1(r), generate_series(0, 15) t2(c)
  WHERE r BETWEEN 1 AND 14 AND c BETWEEN 1 AND 14
), nb AS (
  SELECT a.r, a.c, b.src AS x, b.ref AS y
  FROM px a JOIN px b ON b.r BETWEEN a.r - 2 AND a.r + 2
                     AND b.c BETWEEN a.c - 2 AND a.c + 2
), agg AS (
  SELECT r, c, COUNT(*) AS m, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
  FROM nb GROUP BY r, c
), fit0 AS (
  SELECT r, c, m, sx, sy, sxx, sxy, syy,
         (m * sxy - sx * sy) / (m * sxx - sx * sx) AS g
  FROM agg
), fit AS (
  SELECT r, c, g AS gain, (sy - g * sx) / m AS "offset",
         1.0 - ((g * g * sxx + 2 * g * ((sy - g * sx) / m) * sx
                 - 2 * g * sxy - 2 * ((sy - g * sx) / m) * sy + syy
                 + m * POW((sy - g * sx) / m, 2)) * m)
             / (m * syy - sy * sy) AS r2
  FROM fit0
), tall AS (
  SELECT 'gain' AS param, gain AS v FROM fit
  UNION ALL SELECT 'offset', "offset" FROM fit
  UNION ALL SELECT 'r2', r2 FROM fit
)
SELECT 'gos' AS image_id, CAST(0 AS INT) AS band, param,
       ROUND(SUM(v) / COUNT(*), 6) + 0.0 AS mean,
       ROUND(SQRT(GREATEST(SUM(v * v) / COUNT(*)
             - POW(SUM(v) / COUNT(*), 2), 0)), 6) + 0.0 AS std,
       ROUND(MIN(v), 6) + 0.0 AS min, ROUND(MAX(v), 6) + 0.0 AS max,
       ROUND(CASE WHEN param = 'r2'
                  THEN 100.0 * SUM(CASE WHEN v < 0.25 THEN 1 ELSE 0 END)
                       / COUNT(*) END, 6) + 0.0 AS inpaint_p,
       CAST(COUNT(*) AS BIGINT) AS n
FROM tall GROUP BY param ORDER BY param
"""


def q_fuse_gain_blk_offset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Param stats over the BASELINE-metric gain-blk-offset fuse,
    ORACLE-CHECKED: the blknorm fixture makes the folded params exactly
    (G, C) per chunk and R² exactly 1 (see ``q_fuse_gain_blk_offset``);
    DuckDB genuinely recomputes the block norm (stddev_pop +
    quantile_cont), the sliding fit on the normalized source, the fold AND
    the R² expansion per pixel, then aggregates with the cumulative-std
    formula over all 4 chunks' distinct parameter values."""
    from homonim_spark import datagen
    from homonim_spark.operators.fuse import fuse
    from homonim_spark.operators.stats import param_stats

    docs_pdf, tiles_pdf = datagen.build_blknorm_tables()
    docs, tiles = datagen.to_spark(spark, docs_pdf, tiles_pdf)
    fused = fuse(docs, tiles, model="gain-blk-offset", kernel_shape=(5, 5),
                 chunk=1, find_r2=True)
    return _rounded_stats(param_stats(fused, model="gain-blk-offset"))


ORACLE_FUSE_GAIN_BLK_OFFSET_STATS = """
WITH base AS (
  SELECT r, c, 2 * (r // 16) + (c // 16) AS cell
  FROM generate_series(0, 31) t1(r), generate_series(0, 31) t2(c)
  WHERE (r % 16) BETWEEN 3 AND 12 AND (c % 16) BETWEEN 3 AND 12
), px AS (
  SELECT r, c, cell,
         CAST([4, 6, 8, 10][cell + 1] + 2 * ((r + c) % 2) AS DOUBLE) AS src,
         [2.0, 0.5, 1.5, 2.5][cell + 1]
           * CAST([4, 6, 8, 10][cell + 1] + 2 * ((r + c) % 2) AS DOUBLE)
           + [3.0, -1.0, 0.5, 2.0][cell + 1] AS ref
  FROM base
), norm AS (
  SELECT cell,
         stddev_pop(ref) / stddev_pop(src) AS g_norm,
         quantile_cont(ref, 0.01)
           - quantile_cont(src, 0.01) * (stddev_pop(ref) / stddev_pop(src)) AS c_norm
  FROM px GROUP BY cell
), npx AS (
  SELECT p.r, p.c, p.cell, p.ref, p.src * nm.g_norm + nm.c_norm AS srcn,
         nm.g_norm, nm.c_norm
  FROM px p JOIN norm nm ON nm.cell = p.cell
), nb AS (
  SELECT a.r, a.c, a.cell, a.g_norm, a.c_norm, b.srcn AS x, b.ref AS y
  FROM npx a JOIN npx b ON b.r BETWEEN a.r - 2 AND a.r + 2
                       AND b.c BETWEEN a.c - 2 AND a.c + 2
), agg AS (
  SELECT r, c, cell, g_norm, c_norm, COUNT(*) AS m, SUM(x) AS sx,
         SUM(y) AS sy, SUM(x * x) AS sxx, SUM(x * y) AS sxy,
         SUM(y * y) AS syy
  FROM nb GROUP BY r, c, cell, g_norm, c_norm
), fit AS (
  SELECT r, c, (sy / sx) * g_norm AS gain, (sy / sx) * c_norm AS "offset",
         1.0 - ((POW(sy / sx, 2) * sxx - 2 * (sy / sx) * sxy + syy) * m)
             / (m * syy - sy * sy) AS r2
  FROM agg
), tall AS (
  SELECT 'gain' AS param, gain AS v FROM fit
  UNION ALL SELECT 'offset', "offset" FROM fit
  UNION ALL SELECT 'r2', r2 FROM fit
)
SELECT 'blk' AS image_id, CAST(0 AS INT) AS band, param,
       ROUND(SUM(v) / COUNT(*), 6) + 0.0 AS mean,
       ROUND(SQRT(GREATEST(SUM(v * v) / COUNT(*)
             - POW(SUM(v) / COUNT(*), 2), 0)), 6) + 0.0 AS std,
       ROUND(MIN(v), 6) + 0.0 AS min, ROUND(MAX(v), 6) + 0.0 AS max,
       CAST(NULL AS DOUBLE) AS inpaint_p,
       CAST(COUNT(*) AS BIGINT) AS n
FROM tall GROUP BY param ORDER BY param
"""


def q_fuse_rgb_band_matched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-band fuse with wavelength band matching, ORACLE-CHECKED: reference
    bands stored in reverse spectral order are re-keyed via the greedy
    wavelength match (J2-J4) before pairing.  With the dyadic relation
    ref = 2·src per CORRECTLY-matched band, every fitted gain is exactly
    2.0 and offset exactly 0; a mis-matched pairing would instead fit
    2·(3−b)/(b+1) ≠ 2, so the oracle discriminates matching errors.
    DuckDB recomputes the block norm + sliding fit per band."""
    import pandas as pd
    from homonim_spark import datagen
    from homonim_spark.operators.fuse import fuse
    from homonim_spark.operators.matching import match_bands
    from homonim_spark.operators.stats import param_stats

    spec = datagen.RasterFixtureSpec(pair_id="rgb", cells=(4, 4), tile=16,
                                     factor=2, bands=3,
                                     true_gain=2.0, true_offset=0.0)
    docs_pdf, tiles_pdf = datagen.build_pair_tables(spec)
    t = tiles_pdf.copy()
    is_ref = t.role == "ref"
    t.loc[is_ref, "band"] = 2 - t.loc[is_ref, "band"]  # stored in reverse
    docs, tiles = datagen.to_spark(spark, docs_pdf, t)
    bm = match_bands(
        pd.DataFrame({"band": [0, 1, 2], "center_wavelength": [0.65, 0.56, 0.48]}),
        pd.DataFrame({"band": [0, 1, 2], "center_wavelength": [0.48, 0.56, 0.65]}),
    )
    fused = fuse(docs, tiles, model="gain-blk-offset", kernel_shape=(5, 5),
                 band_map=bm)
    return _rounded_stats(param_stats(fused))


ORACLE_FUSE_RGB_BAND_MATCHED = """
WITH px AS (
  SELECT band, r, c,
         CAST((band + 1) * (1 + ((r * 10 + c) % 200)) AS DOUBLE) AS ref,
         (band + 1) * (1 + ((r * 10 + c) % 200)) / 2.0 AS src
  FROM generate_series(0, 63) t1(r), generate_series(0, 63) t2(c),
       (SELECT UNNEST([0, 1, 2]) AS band) b
  WHERE r BETWEEN 1 AND 62 AND c BETWEEN 1 AND 62
), norm AS (
  SELECT band,
         stddev_pop(ref) / stddev_pop(src) AS g_norm,
         quantile_cont(ref, 0.01)
           - quantile_cont(src, 0.01) * (stddev_pop(ref) / stddev_pop(src)) AS c_norm
  FROM px GROUP BY band
), npx AS (
  SELECT p.band, p.r, p.c, p.ref, p.src * nm.g_norm + nm.c_norm AS srcn,
         nm.g_norm, nm.c_norm
  FROM px p JOIN norm nm ON nm.band = p.band
), nb AS (
  SELECT a.band, a.r, a.c, a.g_norm, a.c_norm, b.srcn AS x, b.ref AS y
  FROM npx a JOIN npx b ON b.band = a.band
                       AND b.r BETWEEN a.r - 2 AND a.r + 2
                       AND b.c BETWEEN a.c - 2 AND a.c + 2
), fit AS (
  SELECT band, r, c,
         (SUM(y) / SUM(x)) * ANY_VALUE(g_norm) AS gain,
         (SUM(y) / SUM(x)) * ANY_VALUE(c_norm) AS "offset"
  FROM nb GROUP BY band, r, c
), tall AS (
  SELECT band, 'gain' AS param, gain AS v FROM fit
  UNION ALL SELECT band, 'offset', "offset" FROM fit
)
SELECT 'rgb' AS image_id, CAST(band AS INT) AS band, param,
       ROUND(SUM(v) / COUNT(*), 6) + 0.0 AS mean,
       ROUND(SQRT(GREATEST(SUM(v * v) / COUNT(*)
             - POW(SUM(v) / COUNT(*), 2), 0)), 6) + 0.0 AS std,
       ROUND(MIN(v), 6) + 0.0 AS min, ROUND(MAX(v), 6) + 0.0 AS max,
       CAST(NULL AS DOUBLE) AS inpaint_p,
       CAST(COUNT(*) AS BIGINT) AS n
FROM tall GROUP BY band, param ORDER BY band, param
"""


def q_raster_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/A10 compare with the cross-band Mean summary row, ORACLE-CHECKED
    over two dyadic 2-band image pairs (src exactly (ref+2)/2 resp.
    2·(ref−1), so every float64 partial sum is exact); DuckDB recomputes
    the per-band PCC²/RMSE/rRMSE and the Mean row (AVG over bands,
    floor-divided n) from a generate_series rebuild."""
    from homonim_spark import datagen
    from homonim_spark.operators.compare import compare_with_mean

    specs = [
        datagen.RasterFixtureSpec(pair_id="rcA", cells=(2, 2), tile=8,
                                  factor=2, bands=2,
                                  true_gain=2.0, true_offset=-2.0),
        datagen.RasterFixtureSpec(pair_id="rcB", cells=(2, 2), tile=8,
                                  factor=2, bands=2,
                                  true_gain=0.5, true_offset=1.0),
    ]
    _, tiles_pdf = datagen.build_fixture_tables(specs)
    tiles = spark.createDataFrame(tiles_pdf, schema=datagen.TILES_SCHEMA)
    out = compare_with_mean(tiles)
    return out.select(
        "image_id", F.col("band").cast("int").alias("band"),
        (F.round("r2", 6) + F.lit(0.0)).alias("r2"),
        (F.round("rmse", 6) + F.lit(0.0)).alias("rmse"),
        (F.round("rrmse", 6) + F.lit(0.0)).alias("rrmse"),
        F.col("n").cast("long").alias("n"),
    ).orderBy("image_id", "band")


ORACLE_RASTER_COMPARE = """
WITH px AS (
  SELECT img, band,
         CAST((band + 1) * (1 + ((r * 10 + c) % 200)) AS DOUBLE) AS ref,
         CASE WHEN img = 'rcA'
              THEN ((band + 1) * (1 + ((r * 10 + c) % 200)) + 2.0) / 2.0
              ELSE ((band + 1) * (1 + ((r * 10 + c) % 200)) - 1.0) * 2.0
         END AS src
  FROM generate_series(0, 15) t1(r), generate_series(0, 15) t2(c),
       (SELECT UNNEST([0, 1]) AS band) b,
       (SELECT UNNEST(['rcA', 'rcB']) AS img) i
  WHERE r BETWEEN 1 AND 14 AND c BETWEEN 1 AND 14
), agg AS (
  SELECT img, band, COUNT(*) AS n, SUM(src) AS ss, SUM(ref) AS rs,
         SUM(src * src) AS s2, SUM(ref * ref) AS r2s, SUM(src * ref) AS sr,
         SUM(POW(ref - src, 2)) AS res2
  FROM px GROUP BY img, band
), stats AS (
  SELECT img, band,
         POW((sr - n * (ss / n) * (rs / n)) /
             (SQRT(s2 - n * (ss / n) * (ss / n))
              * SQRT(r2s - n * (rs / n) * (rs / n))), 2) AS r2,
         SQRT(res2 / n) AS rmse,
         SQRT(res2 / n) / (rs / n) AS rrmse, n
  FROM agg
), unioned AS (
  SELECT img, CAST(band AS INT) AS band, r2, rmse, rrmse,
         CAST(n AS BIGINT) AS n
  FROM stats
  UNION ALL
  SELECT img, CAST(NULL AS INT), AVG(r2), AVG(rmse), AVG(rrmse),
         CAST(SUM(n) / COUNT(n) AS BIGINT)
  FROM stats GROUP BY img
)
SELECT img AS image_id, band,
       ROUND(r2, 6) + 0.0 AS r2, ROUND(rmse, 6) + 0.0 AS rmse,
       ROUND(rrmse, 6) + 0.0 AS rrmse, n
FROM unioned ORDER BY image_id, band
"""


ORACLE_SPAN_ROUNDTRIP = """
SELECT CAST(8 AS BIGINT) AS n_docs, CAST(0 AS BIGINT) AS n_mismatched
"""


def q_span_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-sequence equality audit, ORACLE-CHECKED (constants closed-form
    from the fixture geometry, like ``span_roundtrip_corrected``: scale=2 →
    2 pairs × 4 cell-row docs = 8 docs; zero mismatches required): docs
    whose (kind, text, media_ref, order) sequence fails to round-trip
    through explode+regroup. Must be 0."""
    from homonim_spark.operators.fuse import explode_spans, reassemble_documents
    docs, tiles = _raster_spark(spark)
    rebuilt = reassemble_documents(explode_spans(docs))
    j = docs.alias("a").join(rebuilt.alias("b"), "doc_id")
    mism = j.filter(F.col("a.spans") != F.col("b.spans")).count()
    total = docs.count()
    return spark.createDataFrame(
        [(int(total), int(mism))], "n_docs long, n_mismatched long")


def q_span_roundtrip_corrected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrected-document audit, ORACLE-CHECKED (constants are closed-form
    from the fixture geometry: scale=2 → 2 pairs × 4 cell-row docs = 8 docs;
    4 cells × 2 roles per doc = 64 media spans; 32 src spans all corrected):
    every re-pointed (corr://) span must match exactly one corrected payload,
    every other media span exactly one original tile, zero unresolved and
    zero ambiguous — enforced relationally through the hash gate."""
    from homonim_spark.operators.fuse import explode_spans, fuse_documents
    docs, tiles = _raster_spark(spark)
    corrected_docs, fused = fuse_documents(
        docs, tiles, model="gain-blk-offset", kernel_shape=(5, 5))
    spans = (explode_spans(corrected_docs)
             .filter(F.col("kind") == "media").select("media_ref"))
    payloads = (fused.filter(F.col("corr").isNotNull()).select("media_ref")
                .unionByName(tiles.select("media_ref")))
    n_docs = corrected_docs.count()
    n_media = spans.count()
    n_corrected = spans.filter(F.col("media_ref").startswith("corr://")).count()
    n_unresolved = spans.join(payloads, "media_ref", "left_anti").count()
    n_ambiguous = (payloads.join(spans.distinct(), "media_ref", "left_semi")
                   .groupBy("media_ref").count()
                   .filter(F.col("count") > 1).count())
    return spark.createDataFrame(
        [(int(n_docs), int(n_media), int(n_corrected),
          int(n_unresolved), int(n_ambiguous))],
        "n_docs long, n_media_spans long, n_corrected_spans long, "
        "n_unresolved long, n_ambiguous long")


ORACLE_SPAN_ROUNDTRIP_CORRECTED = """
SELECT CAST(8 AS BIGINT) AS n_docs, CAST(64 AS BIGINT) AS n_media_spans,
       CAST(32 AS BIGINT) AS n_corrected_spans,
       CAST(0 AS BIGINT) AS n_unresolved, CAST(0 AS BIGINT) AS n_ambiguous
"""


def q_pip_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: tile→footprint point-in-polygon assignment counts,
    ORACLE-CHECKED: DuckDB reruns the identical even-odd crossing test
    (same expression, same float64 ops) for every ref-tile cell center and
    its 4 corners against the seeded footprint polygons — whose vertices
    are embedded as literals in the oracle SQL — and reproduces the
    per-footprint tile/boundary counts."""
    from homonim_spark import datagen
    from homonim_spark.operators.spatial import assign_tiles_to_footprints
    docs, tiles = _raster_spark(spark)
    fps = spark.createDataFrame(datagen.build_footprints(8))
    out = assign_tiles_to_footprints(tiles.filter(F.col("role") == "ref"), fps,
                                     datagen.FIXTURE_RES)
    return (out.groupBy("footprint_id")
            .agg(F.count("*").alias("n_tiles"),
                 F.sum(F.when(F.col("boundary"), 1).otherwise(0)).alias("n_boundary"))
            .orderBy("footprint_id"))


def _footprint_edges_values() -> str:
    """The seeded footprint polygons as SQL VALUES rows (one per edge) —
    deterministic (numpy seed 42), full-repr float literals so DuckDB
    parses the identical doubles the engine uses."""
    from homonim_spark import datagen
    fps = datagen.build_footprints(8)
    rows = []
    for r in fps.itertuples(index=False):
        pts = [(p["x"], p["y"]) for p in r.polygon]
        for i in range(len(pts)):
            x0, y0 = pts[i]
            x1, y1 = pts[(i + 1) % len(pts)]
            rows.append(f"('{r.footprint_id}', {x0!r}, {y0!r}, {x1!r}, {y1!r})")
    return ",\n    ".join(rows)


ORACLE_PIP_ASSIGN = f"""
WITH cells AS (
  SELECT r, c FROM generate_series(0, 3) t1(r),
       (SELECT UNNEST([0, 1, 2, 3, 8, 9, 10, 11]) AS c) t2
), pts AS (
  SELECT r, c, v.is_center, (c + v.dx) * 1024.0 AS px, (r + v.dy) * 1024.0 AS py
  FROM cells, (VALUES (0.5, 0.5, TRUE), (0.0, 0.0, FALSE), (0.0, 1.0, FALSE),
                      (1.0, 0.0, FALSE), (1.0, 1.0, FALSE)) v(dy, dx, is_center)
), edges(footprint_id, x0, y0, x1, y1) AS (
  VALUES
    {_footprint_edges_values()}
), tests AS (
  SELECT e.footprint_id, p.r, p.c, p.is_center, p.px, p.py,
         SUM(CASE WHEN ((e.y0 > p.py) <> (e.y1 > p.py))
                   AND p.px < (e.x1 - e.x0) * (p.py - e.y0) / (e.y1 - e.y0) + e.x0
             THEN 1 ELSE 0 END) % 2 = 1 AS inside
  FROM pts p CROSS JOIN edges e
  GROUP BY e.footprint_id, p.r, p.c, p.is_center, p.px, p.py
), flags AS (
  SELECT footprint_id, r, c,
         BOOL_OR(CASE WHEN is_center THEN inside END) AS center_in,
         BOOL_AND(CASE WHEN NOT is_center THEN inside END) AS corners_in
  FROM tests GROUP BY footprint_id, r, c
)
SELECT footprint_id, CAST(COUNT(*) AS BIGINT) AS n_tiles,
       CAST(SUM(CASE WHEN NOT corners_in THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boundary
FROM flags WHERE center_in GROUP BY footprint_id ORDER BY footprint_id
"""


def q_vectorize_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster→vector bridge, ORACLE-CHECKED: per-cell polygon bounds in
    world coordinates + per-cell parameter summaries over the blknorm
    fixture (folded params exactly (G, C) per chunk, so the cell summaries
    are exact); DuckDB recomputes the per-pixel fit per cell and the cell
    rectangle from the packed cell_id arithmetic."""
    from homonim_spark import datagen
    from homonim_spark.operators.fuse import fuse
    from homonim_spark.operators.stats import vectorize_params

    docs_pdf, tiles_pdf = datagen.build_blknorm_tables()
    docs, tiles = datagen.to_spark(spark, docs_pdf, tiles_pdf)
    fused = fuse(docs, tiles, model="gain-blk-offset", kernel_shape=(5, 5),
                 chunk=1)
    v = vectorize_params(fused)
    return v.select(
        "image_id", "band", "cell_id",
        (F.round("x_min", 6) + F.lit(0.0)).alias("x_min"),
        (F.round("y_min", 6) + F.lit(0.0)).alias("y_min"),
        (F.round("x_max", 6) + F.lit(0.0)).alias("x_max"),
        (F.round("y_max", 6) + F.lit(0.0)).alias("y_max"),
        (F.round("gain_mean", 6) + F.lit(0.0)).alias("gain_mean"),
        (F.round("gain_std", 6) + F.lit(0.0)).alias("gain_std"),
        (F.round("offset_mean", 6) + F.lit(0.0)).alias("offset_mean"),
        (F.round("offset_std", 6) + F.lit(0.0)).alias("offset_std"),
        (F.round("r2_mean", 6) + F.lit(0.0)).alias("r2_mean"),
        F.col("n_valid").cast("long").alias("n_valid"),
    ).orderBy("cell_id")


ORACLE_VECTORIZE_PARAMS = """
WITH base AS (
  SELECT r, c, 2 * (r // 16) + (c // 16) AS cell
  FROM generate_series(0, 31) t1(r), generate_series(0, 31) t2(c)
  WHERE (r % 16) BETWEEN 3 AND 12 AND (c % 16) BETWEEN 3 AND 12
), px AS (
  SELECT r, c, cell,
         CAST([4, 6, 8, 10][cell + 1] + 2 * ((r + c) % 2) AS DOUBLE) AS src,
         [2.0, 0.5, 1.5, 2.5][cell + 1]
           * CAST([4, 6, 8, 10][cell + 1] + 2 * ((r + c) % 2) AS DOUBLE)
           + [3.0, -1.0, 0.5, 2.0][cell + 1] AS ref
  FROM base
), norm AS (
  SELECT cell,
         stddev_pop(ref) / stddev_pop(src) AS g_norm,
         quantile_cont(ref, 0.01)
           - quantile_cont(src, 0.01) * (stddev_pop(ref) / stddev_pop(src)) AS c_norm
  FROM px GROUP BY cell
), nb AS (
  SELECT a.r, a.c, a.cell, b.src AS x, b.ref AS y
  FROM px a JOIN px b ON b.r BETWEEN a.r - 2 AND a.r + 2
                     AND b.c BETWEEN a.c - 2 AND a.c + 2
), agg AS (
  SELECT r, c, cell, COUNT(*) AS m, SUM(x) AS sx, SUM(y) AS sy
  FROM nb GROUP BY r, c, cell
), fit AS (
  SELECT a.cell,
         (sy / (g_norm * sx + c_norm * m)) * g_norm AS gain,
         (sy / (g_norm * sx + c_norm * m)) * c_norm AS "offset"
  FROM agg a JOIN norm nm ON nm.cell = a.cell
), cellstats AS (
  SELECT cell, COUNT(*) AS n_valid,
         SUM(gain) / COUNT(*) AS gain_mean,
         SQRT(GREATEST(SUM(gain * gain) / COUNT(*)
              - POW(SUM(gain) / COUNT(*), 2), 0)) AS gain_std,
         SUM("offset") / COUNT(*) AS offset_mean,
         SQRT(GREATEST(SUM("offset" * "offset") / COUNT(*)
              - POW(SUM("offset") / COUNT(*), 2), 0)) AS offset_std
  FROM fit GROUP BY cell
)
SELECT 'blk' AS image_id, CAST(0 AS INT) AS band,
       CAST(10 * 288230376151711744 + ((cell // 2) + 268435456) * 536870912
            + ((cell % 2) + 268435456) AS BIGINT) AS cell_id,
       ROUND((cell % 2) * 1024.0, 6) + 0.0 AS x_min,
       ROUND((cell // 2) * 1024.0, 6) + 0.0 AS y_min,
       ROUND((cell % 2 + 1) * 1024.0, 6) + 0.0 AS x_max,
       ROUND((cell // 2 + 1) * 1024.0, 6) + 0.0 AS y_max,
       ROUND(gain_mean, 6) + 0.0 AS gain_mean,
       ROUND(gain_std, 6) + 0.0 AS gain_std,
       ROUND(offset_mean, 6) + 0.0 AS offset_mean,
       ROUND(offset_std, 6) + 0.0 AS offset_std,
       CAST(NULL AS DOUBLE) AS r2_mean,
       CAST(n_valid AS BIGINT) AS n_valid
FROM cellstats ORDER BY cell_id
"""


def q_knn_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: kNN reference cells for source cells after deterministically
    deleting every 3rd reference cell (FIXTURES.md §3), ORACLE-CHECKED:
    DuckDB rebuilds the packed cell ids arithmetically, reruns the
    Chebyshev-ring candidate join and the (ring_dist, ref_cell_id)
    row_number ranking."""
    from homonim_spark.operators.spatial import knn_ref_tiles
    docs, tiles = _raster_spark(spark)
    src_cells = tiles.filter(F.col("role") == "src").select("cell_id").distinct()
    ref_cells = (tiles.filter(F.col("role") == "ref").select("cell_id").distinct()
                 .filter(F.pmod(F.col("cell_id"), F.lit(3)) != 0))
    out = knn_ref_tiles(src_cells, ref_cells, k=2, max_ring=3)
    return out.select("cell_id", "ref_cell_id", "ring_dist", "knn_rank") \
              .orderBy("cell_id", "knn_rank")


ORACLE_KNN_CELLS = """
WITH cells AS (
  SELECT CAST(10 * 288230376151711744 + (r + 268435456) * 536870912
              + (c + 268435456) AS BIGINT) AS cell_id, r, c
  FROM generate_series(0, 3) t1(r),
       (SELECT UNNEST([0, 1, 2, 3, 8, 9, 10, 11]) AS c) t2
), refs AS (
  SELECT * FROM cells WHERE cell_id % 3 <> 0
), cand AS (
  SELECT s.cell_id, f.cell_id AS ref_cell_id,
         GREATEST(ABS(f.r - s.r), ABS(f.c - s.c)) AS ring_dist
  FROM cells s JOIN refs f
    ON ABS(f.r - s.r) <= 3 AND ABS(f.c - s.c) <= 3
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY cell_id
                               ORDER BY ring_dist, ref_cell_id) AS knn_rank
  FROM cand
)
SELECT cell_id, ref_cell_id, CAST(ring_dist AS BIGINT) AS ring_dist,
       CAST(knn_rank AS INT) AS knn_rank
FROM ranked WHERE knn_rank <= 2 ORDER BY cell_id, knn_rank
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: gain-blk-offset 5×5 fuse over the interleaved-documents
    fixture → per-parameter stats (the baseline-metric model)."""
    from homonim_spark.operators.fuse import fuse
    from homonim_spark.operators.stats import param_stats
    docs, tiles = _raster_spark(spark)
    fused = fuse(docs, tiles, model="gain-blk-offset", kernel_shape=(5, 5),
                 find_r2=True)
    return param_stats(fused).orderBy("image_id", "band", "param")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # NOTE on ordering: the driver's CORRECTNESS file records the FIRST 50
    # entries of this dict.  Every operator family's unique gate row must
    # therefore sit in the first 50; redundant relational drills (variants
    # of categories already covered by an earlier row) are parked in the
    # overflow tail below and stay verifiable via tools/check_oracles.py.
    return {
        # relational / aggregation engine analogues (DuckDB-checked)
        "compare_stats": q_compare_stats,
        "param_stats": q_param_stats,
        "rollup_mean": q_rollup_mean,
        "data_window": q_data_window,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "band_match_rank": q_band_match_rank,
        "join_pushdown": q_join_pushdown,
        "sessionize": q_sessionize,
        "anti_semi_join": q_anti_semi_join,
        "skew_report": q_skew_report,
        # text / dedup / similarity (DuckDB-checked)
        "text_profile": q_text_profile,
        "vocab_topk": q_vocab_topk,
        "length_histogram": q_length_histogram,
        "dedup_exact": q_dedup_exact,
        "streaming_dedup": q_streaming_dedup,
        "streaming_window": q_streaming_window,
        "streaming_sessionize": q_streaming_sessionize,
        "hash_split": q_hash_split,
        "passage_overlap": q_passage_overlap,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_neardup": q_minhash_neardup,
        "neardup_clusters": q_neardup_clusters,
        "simhash_neardup": q_simhash_neardup,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "similarity_topk": q_similarity_topk,
        "embedding_neardup": q_embedding_neardup,
        # raster pipeline (DuckDB-checked via dyadic closed-form fixtures)
        "fuse_gain": q_fuse_gain,
        "fuse_gain_k1": q_fuse_gain_k1,
        "raster_compare_k1": q_raster_compare_k1,
        "overview_level1": q_overview_level1,
        "fuse_gain_offset_k5": q_fuse_gain_offset_k5,
        "fuse_gain_blk_offset": q_fuse_gain_blk_offset,
        "fuse_gain_blk_offset_stats": q_fuse_gain_blk_offset_stats,
        "fuse_gain_offset": q_fuse_gain_offset,
        "fuse_rgb_band_matched": q_fuse_rgb_band_matched,
        "raster_compare": q_raster_compare,
        "span_roundtrip": q_span_roundtrip,
        "span_roundtrip_corrected": q_span_roundtrip_corrected,
        "span_text_profile": q_span_text_profile,
        "media_features": q_media_features,
        "media_resize": q_media_resize,
        "media_features_png": q_media_features_png,
        "media_features_wav": q_media_features_wav,
        "vectorize_params": q_vectorize_params,
        "pip_assign": q_pip_assign,
        "knn_cells": q_knn_cells,
        # ---- overflow tail (entries 51+): redundant relational variants of
        # categories already gated above; checked by tools/check_oracles.py.
        "tpch_q6": q_tpch_q6,
        "promo_share": q_promo_share,
        "topk_orders": q_topk_orders,
        "json_extract": q_json_extract,
        "set_ops": q_set_ops,
        "cube_orders": q_cube_orders,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "compare_stats": ORACLE_COMPARE_STATS,
        "param_stats": ORACLE_PARAM_STATS,
        "rollup_mean": ORACLE_ROLLUP_MEAN,
        "data_window": ORACLE_DATA_WINDOW,
        "tpch_q1": ORACLE_TPCH_Q1,
        "tpch_q3": ORACLE_TPCH_Q3,
        "tpch_q6": ORACLE_TPCH_Q6,
        "promo_share": ORACLE_PROMO_SHARE,
        "band_match_rank": ORACLE_BAND_MATCH_RANK,
        "topk_orders": ORACLE_TOPK_ORDERS,
        "join_pushdown": ORACLE_JOIN_PUSHDOWN,
        "sessionize": ORACLE_SESSIONIZE,
        "json_extract": ORACLE_JSON_EXTRACT,
        "set_ops": ORACLE_SET_OPS,
        "cube_orders": ORACLE_CUBE_ORDERS,
        "anti_semi_join": ORACLE_ANTI_SEMI_JOIN,
        "skew_report": ORACLE_SKEW_REPORT,
        "text_profile": ORACLE_TEXT_PROFILE,
        "vocab_topk": ORACLE_VOCAB_TOPK,
        "length_histogram": ORACLE_LENGTH_HISTOGRAM,
        "dedup_exact": ORACLE_DEDUP_EXACT,
        "streaming_dedup": ORACLE_STREAMING_DEDUP,
        "streaming_window": ORACLE_STREAMING_WINDOW,
        "streaming_sessionize": ORACLE_STREAMING_SESSIONIZE,
        "hash_split": ORACLE_HASH_SPLIT,
        "passage_overlap": ORACLE_PASSAGE_OVERLAP,
        "asof_join": ORACLE_ASOF_JOIN,
        "range_join": ORACLE_RANGE_JOIN,
        "ngram_jaccard": ORACLE_NGRAM_JACCARD,
        "minhash_neardup": ORACLE_MINHASH_NEARDUP,
        "simhash_neardup": ORACLE_SIMHASH_NEARDUP,
        "ann_lsh_topk": ORACLE_ANN_LSH_TOPK,
        "ann_ivf_topk": ORACLE_ANN_IVF_TOPK,
        "neardup_clusters": ORACLE_NEARDUP_CLUSTERS,
        "similarity_topk": ORACLE_SIMILARITY_TOPK,
        "embedding_neardup": ORACLE_EMBEDDING_NEARDUP,
        "media_features_png": ORACLE_MEDIA_FEATURES_PNG,
        "media_features_wav": ORACLE_MEDIA_FEATURES_WAV,
        "fuse_gain_k1": ORACLE_FUSE_GAIN_K1,
        "raster_compare_k1": ORACLE_RASTER_COMPARE_K1,
        "overview_level1": ORACLE_OVERVIEW_LEVEL1,
        "fuse_gain_offset_k5": ORACLE_FUSE_GAIN_OFFSET_K5,
        "fuse_gain_blk_offset": ORACLE_FUSE_GAIN_BLK_OFFSET,
        "span_roundtrip_corrected": ORACLE_SPAN_ROUNDTRIP_CORRECTED,
        # round-4 conversions: dyadic closed-form fixtures → hash-green
        "fuse_gain": ORACLE_FUSE_GAIN,
        "fuse_gain_offset": ORACLE_FUSE_GAIN_OFFSET,
        "fuse_gain_blk_offset_stats": ORACLE_FUSE_GAIN_BLK_OFFSET_STATS,
        "fuse_rgb_band_matched": ORACLE_FUSE_RGB_BAND_MATCHED,
        "raster_compare": ORACLE_RASTER_COMPARE,
        "span_roundtrip": ORACLE_SPAN_ROUNDTRIP,
        "span_text_profile": ORACLE_SPAN_TEXT_PROFILE,
        "media_features": ORACLE_MEDIA_FEATURES,
        "media_resize": ORACLE_MEDIA_RESIZE,
        "vectorize_params": ORACLE_VECTORIZE_PARAMS,
        "pip_assign": ORACLE_PIP_ASSIGN,
        "knn_cells": ORACLE_KNN_CELLS,
    }
