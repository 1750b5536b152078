package graft.canonical

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact per-group top-k as one partitioned `row_number` window.
  *
  * A funnel of each group's full row set through one window task (VERDICT
  * r05 #7) is not a risk here: Spark 4.1 infers a `WindowGroupLimit` for a
  * rank filter and plans it twice, `Partial` below the window's hash
  * exchange and `Final` above it, so at most k rows per (group, input
  * partition) cross the shuffle. PlanSpec holds that plan shape.
  *
  * `order` must be a TOTAL order within each group (both call sites
  * tiebreak to totality), or the kept rows are not deterministic.
  */
object TopK {

  /** Append `rkCol` (long, 1-based) and keep rows with rank <= k. */
  def perGroup(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
      k: Int, rkCol: String): DataFrame = {
    require(k >= 1, s"TopK.perGroup: k must be >= 1, got $k")
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(order: _*)
    df.withColumn(rkCol, row_number().over(w).cast("long"))
      .filter(col(rkCol) <= k)
  }
}
