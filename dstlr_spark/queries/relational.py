"""Relational operator coverage over the TPC-H-ish driver tables.

Exercises the engine's join/agg/window/set-op surface (SURVEY.md §2.2,
§2.4-2.6) with DuckDB oracles. Conventions that keep value-hashes
identical across engines:

- money aggregates go through ``DECIMAL(18,2)`` (exact, order-
  independent) and only then to DOUBLE;
- timestamps never leave a query raw — always ``date_format``ed to
  strings (Spark is session-TZ aware, DuckDB naive);
- every computed column aliased identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dec_sum(col, scale: int = 2) -> F.Column:
    """Exact money sum: route through DECIMAL so the result is order-
    independent and engine-identical.

    ``scale`` must be ≥ the true decimal scale of the expression —
    a PRODUCT of two 2-decimal values is exactly 4-decimal, and rounding
    it to 2 decimals sits on .005 midpoints where Spark (HALF_UP) and
    DuckDB (HALF_EVEN) disagree; at the true scale the double is ~1e-10
    from the exact value and both engines round identically.
    """
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


# --- Q1-style pricing summary (filter + wide agg) --------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity")).alias("sum_qty"),
            _dec_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dec_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# --- join chain with broadcast dims ----------------------------------------

def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            _dec_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_bilateral_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-nation trade volume — revenue between
    every (supplier nation, customer nation) pair per ship year,
    excluding domestic trade. The nation dimension broadcasts into
    both resolutions and the pre-reduced supplier side broadcasts onto
    the fact rows; the fact-scale work is the lineitem⨝orders shuffle
    on the order key, the orders⨝customer shuffle on the customer
    key, and the final aggregate exchange. Money through exact
    decimals (module conventions)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    supp_n = F.broadcast(
        supp.join(
            F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"]
        ).select(F.col("s_suppkey"), F.col("n_name").alias("supp_nation"))
    )
    cust_n = cust.join(
        F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"]
    ).select(F.col("c_custkey"), F.col("n_name").alias("cust_nation"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust_n, orders["o_custkey"] == cust_n["c_custkey"])
        .join(supp_n, li["l_suppkey"] == supp_n["s_suppkey"])
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(
            _dec_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4
            ).alias("volume"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_type_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: per ship-month, the revenue share of one part
    type ('ECONOMY' standing in for PROMO%). Both sums exact decimals;
    the share divides the two identically-derived doubles, so it is
    bit-identical across engines."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
        )
        .agg(
            _dec_sum(
                F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0.0)), 4
            ).alias("economy_revenue"),
            _dec_sum(rev, 4).alias("total_revenue"),
        )
        .select(
            "ship_month", "economy_revenue", "total_revenue",
            (F.col("economy_revenue") / F.col("total_revenue")).alias("economy_share"),
        )
    )


# --- top-k per group (window) ----------------------------------------------

def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            "rank",
            F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("totalprice"),
        )
    )


# --- anti / semi joins -------------------------------------------------------

def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


def q_priority_with_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-shaped: orders having at least one lineitem (semi join)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# --- set ops -----------------------------------------------------------------

def q_returned_not_shipped_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: parts seen with returnflag 'R' but never with 'A'."""
    li = _t(spark, sf_dir, "lineitem")
    r = li.where(F.col("l_returnflag") == "R").select("l_partkey")
    a = li.where(F.col("l_returnflag") == "A").select("l_partkey")
    return r.exceptAll(a).distinct()


# --- grouping sets (rollup) ----------------------------------------------------

def q_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_cube_quantities(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        _dec_sum(F.col("l_quantity")).alias("sum_qty"),
    )


# --- correlated subquery (Catalyst decorrelation) ------------------------------

def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped: lineitems below 20% of their part's average
    quantity — a correlated scalar subquery Catalyst decorrelates into
    an aggregate + join. (l_quantity is integer-valued, so the AVG
    threshold is exact in both engines regardless of summation order.)"""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("li_q17")
    return spark.sql(
        """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
                   AS avg_yearly
        FROM li_q17 l
        WHERE l_quantity < (
            SELECT 0.2 * AVG(l_quantity) FROM li_q17 l2
            WHERE l2.l_partkey = l.l_partkey)
        """
    )


# --- exact percentiles (interpolated, engine-identical) -------------------------

def q_quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("q50"),
        F.percentile("l_quantity", F.lit(0.9)).alias("q90"),
        F.percentile("l_quantity", F.lit(0.37)).alias("q37"),
    )


# --- events: sessionization + time windows ------------------------------------

def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min): sessions per user."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")  # NTZ → ts → epoch (UTC session)
    with_gap = ev.withColumn(
        "new_session",
        F.when(
            epoch - F.lag(epoch, 1).over(w) > 1800,
            F.lit(1),
        )
        .otherwise(F.lit(0)),
    )
    return (
        with_gap.groupBy("user_id")
        .agg(
            (F.sum("new_session") + F.lit(1)).alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def q_events_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build from the event change
    stream — the CDC-merge pattern every lakehouse ingest runs: treat
    each user's events (ordered by ts, event_id) as updates to a
    tracked state attribute (event_type here), suppress no-op updates
    (consecutive identical states collapse into one version), and emit
    versioned validity intervals [valid_from, valid_to) with the open
    interval flagged current. Downstream as-of lookups
    (`events_asof_join`) and snapshot queries read exactly this table.

    Null semantics: rows missing the CDC key or timestamp (user_id/ts
    NULL) are dropped — a change record without key or time is
    unmergeable; a NULL state is a legal state value (IS DISTINCT FROM
    change test, identical in both engines).

    Scale shape: ONE shuffle on user_id; the first window pass marks
    state changes over the full stream, the second (version numbering
    + interval close via lead) runs over the CHANGE-COMPRESSED frame —
    at CDC ratios that is orders of magnitude smaller than the input.
    No joins, no driver state; output is version-count-sized."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.row_number().over(w).alias("rn"),
    )
    changes = marked.where(
        (F.col("rn") == 1) | ~F.col("prev_type").eqNullSafe(F.col("event_type"))
    )
    return (
        changes.select(
            "user_id",
            F.col("event_type").alias("state"),
            F.row_number().over(w).cast("int").alias("version"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
            F.date_format(F.lead("ts").over(w), "yyyy-MM-dd HH:mm:ss").alias(
                "valid_to"
            ),
        )
        .withColumn(
            "is_current",
            F.when(F.col("valid_to").isNull(), F.lit(1)).otherwise(F.lit(0)),
        )
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows by event type (batch analog of the
    streaming windowed agg — see dstlr_spark/streaming)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dec_sum(F.col("value")).alias("total_value"),
        )
    )


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual pivot via conditional aggregation (portable to ANSI SQL)."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "view", "signup", "error", "purchase"]
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}") for t in types
    ]
    return ev.groupBy("user_id").agg(*aggs)


def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each 'error' event, the latest 'signup' event by
    the same user at-or-before it (engine addition — Spark has no native
    as-of join; DuckDB's ASOF JOIN is the oracle)."""
    from dstlr_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.where(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("signup_id")
    )
    joined = asof_join(errors, signups, on="ts", key="user_id", right_cols=["signup_id"])
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.col("asof_signup_id").alias("signup_id"),
    )


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (engine addition — Spark's naive non-equi
    range join plans as a nested-loop product): every 'purchase' event
    joined to each same-user 'signup' window [ts, ts+1h) containing it.
    The oracle is DuckDB's plain inequality join; the Spark plan is the
    bucket equi-join + residual (asserted BNLJ-free in test_plans)."""
    from dstlr_spark.operators.rangejoin import range_join_bucketed

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    windows = ev.where(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").alias("win_start"),
        (F.col("ts").cast("timestamp") + F.expr("INTERVAL 1 HOUR")).alias("win_end"),
        F.col("event_id").alias("signup_id"),
    )
    joined = range_join_bucketed(
        purchases, windows, ts="ts", start="win_start", end="win_end",
        key="user_id", bucket_width=3600,
    )
    return joined.select(
        "event_id",
        "user_id",
        "signup_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    )


# --- Z-order layout (data-skipping file assignment) -------------------------

ZORDER_BITS = 5  # 32×32 rank-space grid (sized to the sf corpus: ~150
#                  users × 30 days; at 100 TB the dims are rank-space
#                  mapped — sampled range-partition boundaries per
#                  dimension, the Delta OPTIMIZE ZORDER scheme — and
#                  BITS grows with file count, not data size)
ZORDER_BUCKET_SHIFT = 6  # keep top 4 z bits → 2 bits per dimension:
#                          every file bucket confines BOTH dims to a
#                          ≤ 8-of-32 block (pinned in tests)


def _interleave_sql(x: str, y: str) -> str:
    """Bit-interleave expression — valid and identical in Spark SQL and
    DuckDB (both support >> << & | on BIGINT)."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def q_events_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) file layout over (user_id, event-hour): the
    data-layout operator a 100 TB table needs so per-file min/max stats
    prune BOTH a user predicate and a time predicate — one
    interleaved sort key gives every file a bounded range in every
    dimension (here provably ≤ 1/16 of each axis per bucket, pinned in
    tests), where a single-column sort leaves the other dimension's
    stats useless. Emitted as the per-bucket stats table a writer's
    footer would carry; assignment is one map expression + one hash
    aggregate — at scale this keys a ``repartitionByRange`` write."""
    # negative epochs (bad-clock events) are excluded: Spark DIV
    # truncates toward zero while floor-division floors, and bit
    # interleaving sign-extended values is meaningless — a layout pass
    # routes such rows to a quarantine partition, it never sorts them
    ev = _t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & (F.col("user_id") >= 0)
        & (F.col("ts").cast("timestamp").cast("long") >= 0)
    )
    pre = ev.select(
        "event_id",
        (F.col("user_id").cast("long") % (1 << ZORDER_BITS)).alias("x"),
        F.expr(
            f"(CAST(CAST(ts AS TIMESTAMP) AS LONG) DIV 86400) % {1 << ZORDER_BITS}"
        ).alias("y"),  # epoch-day (UTC session — the events_sessions idiom)
    )
    z = F.expr(_interleave_sql("x", "y")).cast("long")
    return (
        pre.select("event_id", "x", "y", z.alias("zvalue"))
        .withColumn("file_bucket", F.expr(f"zvalue >> {ZORDER_BUCKET_SHIFT}").cast("int"))
        .groupBy("file_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("x").alias("min_user"),
            F.max("x").alias("max_user"),
            F.min("y").alias("min_day"),
            F.max("y").alias("max_day"),
        )
    )


QUERIES = {
    # never-gated-first ordering
    "events_zorder": q_events_zorder,
    "rel_bilateral_trade": q_bilateral_trade,
    "rel_type_revenue_share": q_type_revenue_share,
    "rel_pricing_summary": q_pricing_summary,
    "rel_revenue_by_nation": q_revenue_by_nation,
    "rel_top_orders_per_customer": q_top_orders_per_customer,
    "rel_customers_without_orders": q_customers_without_orders,
    "rel_priority_with_lineitems": q_priority_with_lineitems,
    "rel_returned_not_shipped_parts": q_returned_not_shipped_parts,
    "rel_rollup_counts": q_rollup_counts,
    "rel_cube_quantities": q_cube_quantities,
    "rel_small_quantity_revenue": q_small_quantity_revenue,
    "rel_quantity_percentiles": q_quantity_percentiles,
    "events_sessions": q_event_sessions,
    "events_scd2": q_events_scd2,
    "events_hourly": q_events_hourly,
    "events_pivot": q_events_pivot,
    "events_asof_join": q_events_asof_join,
    "events_range_join": q_events_range_join,
}

ORACLES = {
    "rel_bilateral_trade": """
WITH supp_n AS (
  SELECT s_suppkey, n_name AS supp_nation
  FROM supplier JOIN nation ON s_nationkey = n_nationkey),
cust_n AS (
  SELECT c_custkey, n_name AS cust_nation
  FROM customer JOIN nation ON c_nationkey = n_nationkey),
-- MATERIALIZED: the inequality must stay a post-join filter; inlined,
-- DuckDB's optimizer lifts it into a nested-loop join between the two
-- dimension CTEs (measured 95 s vs ~1 s at sf0.1)
flat AS MATERIALIZED (
  SELECT supp_nation, cust_nation, l_shipdate, l_extendedprice, l_discount
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN cust_n ON o_custkey = c_custkey
  JOIN supp_n ON l_suppkey = s_suppkey)
SELECT supp_nation, cust_nation,
       CAST(year(l_shipdate) AS INT) AS ship_year,
       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS volume,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM flat
WHERE supp_nation <> cust_nation
GROUP BY 1, 2, 3""",
    "rel_type_revenue_share": """
WITH m AS (
  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
         CAST(SUM(CASE WHEN p_type = 'ECONOMY'
                       THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
                       ELSE CAST(0.0 AS DECIMAL(18,4)) END) AS DOUBLE) AS economy_revenue,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1)
SELECT ship_month, economy_revenue, total_revenue,
       economy_revenue / total_revenue AS economy_share
FROM m""",
    "events_zorder": f"""
WITH pre AS (
  SELECT event_id,
         CAST(user_id AS BIGINT) % {1 << ZORDER_BITS} AS x,
         (epoch(ts)::BIGINT // 86400) % {1 << ZORDER_BITS} AS y
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
    AND user_id >= 0 AND epoch(ts)::BIGINT >= 0),
z AS (
  SELECT event_id, x, y,
         CAST({_interleave_sql("x", "y")} AS BIGINT) AS zvalue
  FROM pre)
SELECT CAST(zvalue >> {ZORDER_BUCKET_SHIFT} AS INT) AS file_bucket,
       COUNT(*) AS n_events,
       MIN(x) AS min_user, MAX(x) AS max_user,
       MIN(y) AS min_day, MAX(y) AS max_day
FROM z
GROUP BY 1""",
    "events_range_join": """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
windows AS (
  SELECT user_id, ts AS win_start, ts + INTERVAL 1 HOUR AS win_end,
         event_id AS signup_id
  FROM events WHERE event_type = 'signup')
SELECT p.event_id, p.user_id, w.signup_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM purchases p JOIN windows w
  ON p.user_id = w.user_id
 AND w.win_start <= p.ts AND p.ts < w.win_end""",
    "rel_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus""",
    "rel_revenue_by_nation": """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name""",
    "rel_top_orders_per_customer": """
SELECT o_custkey, o_orderkey, rank,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                 ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rank
  FROM orders) z
WHERE rank <= 3""",
    "rel_customers_without_orders": """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "rel_priority_with_lineitems": """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
GROUP BY o_orderpriority""",
    "rel_returned_not_shipped_parts": """
SELECT DISTINCT l_partkey FROM (
  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
  EXCEPT ALL
  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A') z""",
    "rel_rollup_counts": """
SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "rel_cube_quantities": """
SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "rel_small_quantity_revenue": """
SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem l
WHERE l_quantity < (
    SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = l.l_partkey)""",
    "rel_quantity_percentiles": """
SELECT l_returnflag,
       quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS q50,
       quantile_cont(CAST(l_quantity AS DOUBLE), 0.9) AS q90,
       quantile_cont(CAST(l_quantity AS DOUBLE), 0.37) AS q37
FROM lineitem GROUP BY l_returnflag""",
    "events_sessions": """
WITH g AS (
  SELECT user_id,
         CASE WHEN CAST(epoch(ts) AS BIGINT)
                   - LAG(CAST(epoch(ts) AS BIGINT), 1) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events)
SELECT user_id,
       CAST(SUM(new_session) + 1 AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM g GROUP BY user_id""",
    "events_scd2": """
WITH base AS (
  SELECT user_id, ts, event_id, event_type FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
m AS (
  SELECT user_id, ts, event_id, event_type,
         LAG(event_type) OVER w AS prev_type,
         ROW_NUMBER() OVER w AS rn
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
chg AS (
  SELECT user_id, ts, event_id, event_type FROM m
  WHERE rn = 1 OR prev_type IS DISTINCT FROM event_type)
SELECT user_id, event_type AS state,
       CAST(ROW_NUMBER() OVER w2 AS INT) AS version,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(LEAD(ts) OVER w2, '%Y-%m-%d %H:%M:%S') AS valid_to,
       CASE WHEN LEAD(ts) OVER w2 IS NULL THEN 1 ELSE 0 END AS is_current
FROM chg
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)""",
    "events_hourly": """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2""",
    "events_pivot": """
SELECT user_id,
       CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
       CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS n_view,
       CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
       CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS n_error,
       CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase
FROM events GROUP BY user_id""",
    "events_asof_join": """
WITH err AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
sgn AS (SELECT user_id, ts, event_id AS signup_id FROM events WHERE event_type = 'signup')
SELECT e.event_id, e.user_id,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       s.signup_id
FROM err e ASOF LEFT JOIN sgn s
  ON e.user_id = s.user_id AND e.ts >= s.ts""",
}
