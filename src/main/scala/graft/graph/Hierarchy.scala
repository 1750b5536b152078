package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.canonical.{Canonical, Joins}

/** Corpus browse hierarchy (reference file/folder nodes with `is_folder`
  * + dir->child file_edges, knowledge_graph.py:1044-1118): the transcript
  * analog is corpus -> month partition -> conversation. Every graph browse
  * starts here; nodes get dense bucketed IDs like every other node table.
  */
object Hierarchy {

  /** One row per conversation. Callers pass the COMMITTED transcripts
    * stage table (Pipeline.transcripts), so `turn_idx = 0` is a pushed
    * parquet filter reading 3 columns — not a filter above the full
    * orders⋈lineitem derivation that computes and discards every
    * lineitem turn (the r02 scale-killer: an unpruned corpus scan just
    * to list the month folders). */
  private[graft] def turn0(transcripts: DataFrame): DataFrame =
    transcripts.filter(col("turn_idx") === 0)
      .select(col("conv_id"), date_format(col("ts"), "yyyy-MM").as("month"))

  /** (hier_id, name, is_folder): corpus root + month folders + conv
    * leaves. Consumers share the result through the committed
    * `Pipeline.hierNodes` stage table, which also guarantees node/edge ID
    * consistency (edges remap against the committed node table). */
  def nodes(transcripts: DataFrame): DataFrame =
    nodesFrom(turn0(transcripts).localCheckpoint())

  private def nodesFrom(t0: DataFrame): DataFrame = {
    val root = t0.sparkSession.range(1)
      .select(lit("corpus:all").as("name"), lit(true).as("is_folder"))
    val names = root
      .unionByName(t0.select(concat(lit("month:"), col("month")).as("name"),
        lit(true).as("is_folder")).distinct())
      .unionByName(t0.select(concat(lit("conv:"), col("conv_id")).as("name"),
        lit(false).as("is_folder")))
    Canonical.denseIdsBucketed(names, keyCol = "name", idCol = "hier_id")
      .select(col("hier_id"), col("name"), col("is_folder"))
  }

  /** Parent->child `contains` edges with both endpoints remapped to dense
    * IDs through two joins. */
  def edges(transcripts: DataFrame, hierNodes: DataFrame): DataFrame =
    edgesFrom(turn0(transcripts).localCheckpoint(), hierNodes)

  private def edgesFrom(t0: DataFrame, hierNodes: DataFrame): DataFrame = {
    val pairs = t0
      .select(lit("corpus:all").as("src"),
        concat(lit("month:"), col("month")).as("dst")).distinct()
      .unionByName(t0.select(concat(lit("month:"), col("month")).as("src"),
        concat(lit("conv:"), col("conv_id")).as("dst")))
    Joins.remapBoth(pairs, hierNodes, "name", "hier_id",
      "src", "dst", "src_id", "dst_id")
      .select(col("src_id"), col("dst_id"), col("src"), col("dst"))
  }
}
