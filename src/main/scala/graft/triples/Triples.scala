package graft.triples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._


/** Triple formation — THE triple-forming join.
  *
  * Reference analog: `edges = calls ⋈ nodes on combinedName`
  * (package/call_graph.py:276-315) with two modes:
  *   - `repo_functions_only=True`  -> inner join (drop triples whose object
  *     is not a defined entity) — here [[knownOnly]];
  *   - `repo_functions_only=False` -> left join + mint fresh entities for
  *     unmatched names (call_graph.py:281-315) — here [[mintedNames]].
  *
  * The entity side (distinct canonical names) is orders of magnitude
  * smaller than the mention side — broadcast, exactly where the reference
  * used an in-memory dict.
  */
object Triples {

  /** Defined entity names, one row per defining mention (repeats kept).
    * Container entities referenced by an `extends` clause are part of the
    * vocabulary too (reference: class nodes exist for every base class,
    * knowledge_graph.py:1122-1197): one scan, each definition exploding
    * to its name and its non-empty parent. */
  def entityMentions(mentions: DataFrame): DataFrame =
    mentions
      .filter(col("kind") === "entity_def")
      .select(explode(
        when(col("parent") =!= "", array(col("subj"), col("parent")))
          .otherwise(array(col("subj")))).as("canonical_name"))

  /** Distinct defined entity names: [[entityMentions]] deduplicated. */
  def entityNames(mentions: DataFrame): DataFrame =
    entityMentions(mentions).distinct()

  /** Keep resolved relations whose object is a defined entity
    * (subjects always resolve to defined entities in this grammar, as in
    * the reference where the caller context is always a repo function).
    * Spark broadcasts the vocabulary while it is under its broadcast
    * threshold; above it the semi join shuffles, and AQE splits the
    * partitions of hot objects at runtime. The split needs a shuffle stage
    * on each side: a vocabulary read from a committed table gets one,
    * while a derived `distinct` hands the join its own partitioning and
    * leaves the hot partition whole. */
  def knownOnly(resolved: DataFrame, entities: DataFrame): DataFrame =
    resolved.join(
      entities.withColumnRenamed("canonical_name", "obj"), Seq("obj"), "left_semi")

  /** Names that must be minted when keeping unknown-object triples:
    * distinct resolved object names with no entity definition. */
  def mintedNames(resolved: DataFrame, entities: DataFrame): DataFrame =
    resolved.select(col("obj").as("canonical_name")).distinct()
      .join(entities, Seq("canonical_name"), "left_anti")
}
