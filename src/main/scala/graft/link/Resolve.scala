package graft.link

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Entity linking: resolve relation-mention refs to canonical names.
  *
  * Reference analog: the caller-object resolution precedence chain
  * (package/call_graph.py:703-749): self -> super -> local var -> param ->
  * import alias -> identity. The transcript grammar collapses the three
  * scoped-binding levels (local/param/import) into one conversation-scoped
  * alias map with *latest-binding-wins* shadowing (the reference's scoped
  * lookup semantics, package/adapters/CppAstAdapter.py:510-518), giving the
  * equally-total deterministic chain:
  *
  *   1. `self`  -> the first entity definition at or before the use site
  *                 (analog of `self` -> enclosing class, call_graph.py:738)
  *   2. `a<k>`  -> most recent alias binding at or before the use site
  *   3. else    -> identity (call_graph.py:748)
  *
  * Distribution: the reference resolves row-by-row against Python dicts,
  * one file at a time. Here one conversation is one unit of work, as in
  * the streaming `StatefulResolve`: its definitions, bindings and
  * relations share one hash partition on `conv_id`, and each lookup is a
  * prefix window over the conversation's ordered event stream
  * (SparkER's "partition once by block key, resolve each block locally").
  * No driver-side state, no join, identical results at any parallelism.
  */
object Resolve {

  /** Alias-binding events: (conv_id, ref, turn_idx, mention_idx, target). */
  def bindings(mentions: DataFrame): DataFrame =
    mentions
      .filter(col("kind") === "alias_binding")
      .select(
        col("conv_id"), col("turn_idx"), col("mention_idx"),
        col("subj").as("ref"), col("obj").as("target"))

  /** Resolve subj/obj of every relation mention. Output:
    * conv_id, turn_idx, mention_idx, hop, subj, pred, obj, ts (resolved),
    * one row per relation mention.
    *
    * One scan of `mentions` projects each event once: a relation keeps
    * its refs in `subj`/`obj`; a binding carries its alias in both and
    * its target in `_target`; a definition carries `self` in both and
    * its name in `_def`. The events are hash-partitioned on `conv_id`
    * once; that partitioning satisfies both windows below, so the plan
    * shuffles once and only re-sorts. Each side of a relation is
    * resolved by one prefix window over (conv_id, ref), ordered by
    * (turn_idx, mention_idx, hop), rows unbounded-preceding to current:
    *   - under `self`, `first(_def)` is the first definition at or
    *     before the use site (identity before any definition);
    *   - under an alias, `last(_target)` is its latest binding in scope
    *     (identity when unbound). Bindings are `a<k>` by the extraction
    *     grammar, so a plain name finds neither.
    * This matches the streaming stateful resolver exactly, including
    * out-of-grammar shapes like self-before-any-def.
    *
    * AQE cannot split a window partition: a conversation resolves in one
    * task (as in `StatefulResolve`), so a mega-conversation is a
    * straggler (ROADMAP item 5). */
  def resolved(mentions: DataFrame): DataFrame = {
    val kind = col("kind")
    val (isRel, isBinding, isDef) =
      (kind === "relation", kind === "alias_binding", kind === "entity_def")
    val self = lit("self")
    val events = mentions
      .filter(isRel || isBinding || isDef)
      .select(col("conv_id"), col("turn_idx"), col("mention_idx"), col("hop"),
        isRel.as("_rel"),
        when(isDef, self).otherwise(col("subj")).as("subj"),
        col("pred"),
        when(isDef, self).when(isBinding, col("subj")).otherwise(col("obj")).as("obj"),
        col("ts"),
        when(isBinding, col("obj")).as("_target"),
        when(isDef, col("subj")).as("_def"))
      .repartition(col("conv_id"))
    def resolve(ref: String) = {
      val w = Window.partitionBy(col("conv_id"), col(ref))
        .orderBy("turn_idx", "mention_idx", "hop")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      coalesce(first("_def", ignoreNulls = true).over(w),
        last("_target", ignoreNulls = true).over(w), col(ref))
    }
    events
      .withColumn("_s", resolve("subj"))
      .withColumn("_o", resolve("obj"))
      .filter(col("_rel"))
      .select(col("conv_id"), col("turn_idx"), col("mention_idx"), col("hop"),
        col("_s").as("subj"), col("pred"), col("_o").as("obj"), col("ts"))
  }
}
