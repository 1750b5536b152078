package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.Events
import graft.graph.ParquetTableIO

/** Relational-operator coverage queries (SURVEY.md §2.5-2.10 families that
  * the KG pipeline itself doesn't exercise): decimal-exact aggregation,
  * per-group top-k, change-data full-outer diff, pivot/crosstab,
  * sessionization, semi/anti membership, regex property extraction. */
object RelEntry {

  private def ev(s: SparkSession, dir: String) =
    ParquetTableIO.read(s, s"$dir/events.parquet")

  private def cents(c: org.apache.spark.sql.Column) =
    sum(round(c * 100).cast("long"))

  /** TPC-H Q1-shaped aggregate with exact integer money. */
  private def qRevenue(s: SparkSession, dir: String): DataFrame =
    ParquetTableIO.read(s, s"$dir/lineitem.parquet")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        cents(col("l_quantity")).as("qty_cents"),
        cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue_cents"),
        count(lit(1)).as("n_rows"))

  /** Top-3 parts by revenue per supplier nation: join + window rank.
    * part/supplier grow with SF -> no hint, Spark's broadcast threshold
    * decides; nation is a fixed 25-row vocabulary -> unconditional hint.
    * The fact table shuffles once on the grouping key. */
  private def qTopParts(s: SparkSession, dir: String): DataFrame = {
    val l = ParquetTableIO.read(s, s"$dir/lineitem.parquet")
    val p = ParquetTableIO.read(s, s"$dir/part.parquet")
    val su = ParquetTableIO.read(s, s"$dir/supplier.parquet")
    val n = ParquetTableIO.read(s, s"$dir/nation.parquet")
    val rev = l
      .join(su, l("l_suppkey") === su("s_suppkey"))
      .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
      .join(p, l("l_partkey") === p("p_partkey"))
      .groupBy(col("n_name"), col("p_name"))
      .agg(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue_cents"))
    val w = Window.partitionBy("n_name")
      .orderBy(col("revenue_cents").desc, col("p_name"))
    rev.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= 3)
  }

  /** Change-data diff (reference pr_function_collector.py:49-63, U3):
    * per-part quantity totals before vs after 1998, full-outer joined,
    * classified added/removed/changed/same. */
  private def qChangedParts(s: SparkSession, dir: String): DataFrame = {
    val l = ParquetTableIO.read(s, s"$dir/lineitem.parquet")
    val p = ParquetTableIO.read(s, s"$dir/part.parquet")
    val joined = l.join(p, l("l_partkey") === p("p_partkey"))
      .select(regexp_replace(col("p_name"), " ", "_").as("entity"),
        col("l_shipdate"), col("l_quantity"))
    def side(pred: org.apache.spark.sql.Column, name: String) =
      joined.filter(pred).groupBy("entity")
        .agg(cents(col("l_quantity")).as(name))
    val base = side(year(col("l_shipdate")) < 1998, "base_cents")
    val head = side(year(col("l_shipdate")) >= 1998, "head_cents")
    base.join(head, Seq("entity"), "full_outer")
      .select(
        col("entity"),
        coalesce(col("base_cents"), lit(-1L)).as("base_cents"),
        coalesce(col("head_cents"), lit(-1L)).as("head_cents"),
        when(col("base_cents").isNull, "added")
          .when(col("head_cents").isNull, "removed")
          .when(col("base_cents") =!= col("head_cents"), "changed")
          .otherwise("same").as("status"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rel_revenue" -> (qRevenue _),
    "rel_top_parts" -> (qTopParts _),
    "rel_changed_parts" -> (qChangedParts _),
    "ev_hourly" -> ((s, dir) => Events.hourlyAgg(ev(s, dir))),
    "ev_sessions" -> ((s, dir) => Events.sessionize(ev(s, dir))),
    "ev_pivot" -> ((s, dir) => Events.userTypePivot(ev(s, dir))),
    "ev_props" -> ((s, dir) => Events.propsRollup(ev(s, dir))),
    "ev_clean_buyers" -> ((s, dir) => Events.purchasersWithoutErrors(ev(s, dir))),

    // deterministic ordered limit (O1/O2/O5: head-n with a total order) —
    // plans as TakeOrderedAndProject: per-partition top-n, then one
    // driver-side merge of n*partitions rows, never a global sort
    "ev_latest" -> ((s, dir) => ev(s, dir)
      .orderBy(col("ts").desc, col("event_id"))
      .limit(10)
      .select(col("event_id"), col("user_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))),

    // typed JSON decode of the props payload (X8: from_json, not regex)
    "ev_json" -> ((s, dir) => ev(s, dir)
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k"))
      .groupBy("event_type")
      .agg(sum(col("k")).cast("long").as("sum_k"),
        max(col("k")).cast("long").as("max_k"),
        count(lit(1)).as("n_events"))),
  )

  private val centsSql: String => String =
    e => s"CAST(sum(CAST(round(($e) * 100) AS BIGINT)) AS BIGINT)"

  def oracleSql: Map[String, String] = Map(
    "rel_revenue" ->
      s"""SELECT l_returnflag, l_linestatus,
        |  ${centsSql("l_quantity")} AS qty_cents,
        |  ${centsSql("l_extendedprice * (1 - l_discount)")} AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "rel_top_parts" ->
      s"""SELECT n_name, p_name, revenue_cents, rk FROM (
        |  SELECT n_name, p_name, revenue_cents,
        |         CAST(row_number() OVER (PARTITION BY n_name ORDER BY revenue_cents DESC, p_name) AS BIGINT) AS rk
        |  FROM (
        |    SELECT n_name, p_name,
        |           ${centsSql("l_extendedprice * (1 - l_discount)")} AS revenue_cents
        |    FROM lineitem
        |    JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN nation ON s_nationkey = n_nationkey
        |    JOIN part ON l_partkey = p_partkey
        |    GROUP BY n_name, p_name
        |  )
        |) WHERE rk <= 3""".stripMargin,

    "rel_changed_parts" ->
      s"""WITH j AS (
        |  SELECT replace(p_name,' ','_') AS entity, l_shipdate, l_quantity
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |),
        |base AS (SELECT entity, ${centsSql("l_quantity")} AS base_cents
        |         FROM j WHERE year(l_shipdate) < 1998 GROUP BY entity),
        |head AS (SELECT entity, ${centsSql("l_quantity")} AS head_cents
        |         FROM j WHERE year(l_shipdate) >= 1998 GROUP BY entity)
        |SELECT coalesce(base.entity, head.entity) AS entity,
        |       coalesce(base_cents, -1) AS base_cents,
        |       coalesce(head_cents, -1) AS head_cents,
        |       CASE WHEN base_cents IS NULL THEN 'added'
        |            WHEN head_cents IS NULL THEN 'removed'
        |            WHEN base_cents <> head_cents THEN 'changed'
        |            ELSE 'same' END AS status
        |FROM base FULL OUTER JOIN head ON base.entity = head.entity""".stripMargin,

    "ev_hourly" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_s,
        |       event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       ${centsSql("value")} AS value_cents
        |FROM events GROUP BY date_trunc('hour', ts), event_type""".stripMargin,

    "ev_sessions" ->
      s"""WITH x AS (
        |  SELECT user_id, ts, event_id, value,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events
        |),
        |f AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM x
        |),
        |g AS (
        |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM f
        |)
        |SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS n_events,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_s,
        |       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_s,
        |       ${centsSql("value")} AS value_cents
        |FROM g GROUP BY user_id, session_idx""".stripMargin,

    "ev_pivot" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
        |FROM events GROUP BY user_id""".stripMargin,

    "ev_props" ->
      """SELECT event_type,
        |  CAST(sum(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY event_type""".stripMargin,

    "ev_latest" ->
      """SELECT event_id, user_id, event_type,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
        |FROM events ORDER BY ts DESC, event_id LIMIT 10""".stripMargin,

    "ev_json" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |  CAST(max(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS max_k,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY event_type""".stripMargin,

    "ev_clean_buyers" ->
      """SELECT DISTINCT user_id FROM events e
        |WHERE EXISTS (SELECT 1 FROM events p WHERE p.user_id = e.user_id AND p.event_type = 'purchase')
        |  AND NOT EXISTS (SELECT 1 FROM events x WHERE x.user_id = e.user_id AND x.event_type = 'error')""".stripMargin,
  )
}
