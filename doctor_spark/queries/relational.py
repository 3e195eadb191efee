"""Relational queries over the events and TPC-H tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from doctor_spark.queries import _events, query


@query(oracle="""
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       count(*)::BIGINT AS n_events,
       round(sum(value::DECIMAL(18,2)), 2)::DOUBLE AS total_value
FROM events GROUP BY 1, 2
""")
def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
    )


@query(oracle="""
SELECT event_type, user_id::BIGINT AS user_id, total_value, rnk FROM (
  SELECT event_type, user_id, sum(value::DECIMAL(18,2))::DOUBLE AS total_value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY sum(value::DECIMAL(18,2)) DESC,
                                     user_id ASC)::BIGINT AS rnk
  FROM events GROUP BY event_type, user_id
) WHERE rnk <= 5
""")
def q_events_user_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    totals = (
        _events(spark, sf_dir)
        .groupBy("event_type", "user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("tv"))
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("tv").desc(), F.col("user_id").asc()
    )
    return (
        totals.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select(
            "event_type",
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("tv").cast("double").alias("total_value"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


@query(oracle="""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
)
SELECT user_id::BIGINT AS user_id, session_no::BIGINT AS session_no,
       count(*)::BIGINT AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       round(sum(value::DECIMAL(18,2)), 2)::DOUBLE AS total_value
FROM sessions GROUP BY user_id, session_no
""")
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via window functions —
    the relational form of the stateful-streaming operator; per-session
    stats with decimal-exact totals."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # interval arithmetic on TIMESTAMP_NTZ is session-TZ-free and
    # microsecond-exact (unix_timestamp would depend on the driver's TZ)
    gap = F.col("ts") - F.lag(F.col("ts")).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap > F.expr("INTERVAL 30 MINUTES"), 1).otherwise(0),
    ).withColumn(
        "session_no",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return flagged.groupBy("user_id", "session_no").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_value"),
    ).select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("session_no").cast("bigint").alias("session_no"),
        "n_events", "session_start", "total_value",
    )


@query(oracle="""
SELECT l_returnflag, l_linestatus,
       sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty,
       sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_base_price,
       sum(l_extendedprice::DECIMAL(18,2)
           * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2)))::DOUBLE
         AS sum_disc_price,
       count(*)::BIGINT AS count_order
FROM lineitem WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def q_lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary (relational/agg capability proof)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    d = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(d("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(d("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (d("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - d("l_discount")))
            ).cast("double").alias("sum_disc_price"),
            F.count("*").cast("bigint").alias("count_order"),
        )
    )


@query(oracle="""
SELECT o_orderkey::BIGINT AS o_orderkey, revenue::DOUBLE AS revenue FROM (
  SELECT o_orderkey,
         sum(l_extendedprice::DECIMAL(18,2)
             * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))) AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_orderkey
) ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
""")
def q_order_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style join+agg+topk over orders ⋈ lineitem."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (
                    F.lit(1).cast("decimal(18,2)")
                    - F.col("l_discount").cast("decimal(18,2)")
                )
            ).alias("revenue")
        )
    )
    return (
        rev.orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            F.col("revenue").cast("double").alias("revenue"),
        )
    )
