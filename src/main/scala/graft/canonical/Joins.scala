package graft.canonical

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Size-gated join strategy: broadcast small sides, never force a
  * broadcast of an unbounded table.
  *
  * An unconditional `broadcast()` hint overrides AQE's size check, so a
  * table that fits at sf0.1 (a few thousand nodes) OOMs the driver when
  * the entity vocabulary grows 100x. Every join against a table that
  * scales with the corpus (the node table, the entity vocabulary) hints
  * through [[dim]]:
  *   - below the gate: explicit broadcast;
  *   - above the gate: a plain shuffle join. A hot key (a power-law
  *     canonical name) does not pin one reducer: AQE's skew-join rule
  *     splits only the oversized partitions of inner, left-semi and
  *     left-anti shuffle joins at runtime, from their real sizes.
  *
  * The gate reads Catalyst's own size estimate
  * (`optimizedPlan.stats.sizeInBytes` — exact file size for committed
  * stage tables, conservative for derived plans), so no extra job runs.
  */
object Joins {

  /** Gate in bytes; overridable for tests via -Dgraft.broadcast.maxBytes. */
  def broadcastMaxBytes: Long =
    sys.props.get("graft.broadcast.maxBytes").map(_.toLong).getOrElse(64L << 20)

  def fitsBroadcast(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(broadcastMaxBytes)

  /** Broadcast hint only while the side provably fits; otherwise no hint
    * (AQE decides from runtime sizes). */
  def dim(df: DataFrame): DataFrame =
    if (fitsBroadcast(df)) broadcast(df) else df

  /** Remap both endpoint-name columns of an edge-pair frame to IDs through
    * two size-gated joins (the shared shape of component/containment/
    * hierarchy edge building). `nodes` must expose (nameCol, idCol);
    * output = pairs + (srcIdCol, dstIdCol).
    *
    * Note the gate reads plan statistics: node tables derived from
    * localCheckpoint'd inputs have no reliable estimate and conservatively
    * take the shuffle path — correct at every scale, broadcast-fast only
    * when the committed-table stats prove the side small. */
  def remapBoth(pairs: DataFrame, nodes: DataFrame,
      nameCol: String, idCol: String,
      srcCol: String, dstCol: String,
      srcIdCol: String, dstIdCol: String): DataFrame = {
    val src = nodes.select(col(nameCol).as(srcCol), col(idCol).as(srcIdCol))
    val dst = nodes.select(col(nameCol).as(dstCol), col(idCol).as(dstIdCol))
    pairs.join(dim(src), Seq(srcCol)).join(dim(dst), Seq(dstCol))
  }
}
