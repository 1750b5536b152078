package graft.canonical

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Joins against tables that scale with the corpus (the node table, the
  * entity vocabulary) carry no broadcast hint: Spark's planner broadcasts
  * a side whose estimate (`optimizedPlan.stats.sizeInBytes`, the exact
  * file size for committed stage tables) is under
  * `spark.sql.autoBroadcastJoinThreshold`, and AQE converts a shuffle join
  * to a broadcast at runtime when a side turns out small. Above the
  * threshold a hot key (a power-law canonical name) does not pin one
  * reducer: AQE's skew-join rule splits only the oversized partitions of
  * inner, left-semi and left-anti shuffle joins, from their real sizes.
  */
object Joins {

  /** Remap both endpoint-name columns of an edge-pair frame to IDs through
    * two joins (the shared shape of component/containment/hierarchy edge
    * building). `nodes` must expose (nameCol, idCol);
    * output = pairs + (srcIdCol, dstIdCol). */
  def remapBoth(pairs: DataFrame, nodes: DataFrame,
      nameCol: String, idCol: String,
      srcCol: String, dstCol: String,
      srcIdCol: String, dstIdCol: String): DataFrame = {
    val src = nodes.select(col(nameCol).as(srcCol), col(idCol).as(srcIdCol))
    val dst = nodes.select(col(nameCol).as(dstCol), col(idCol).as(dstIdCol))
    pairs.join(src, Seq(srcCol)).join(dst, Seq(dstCol))
  }
}
