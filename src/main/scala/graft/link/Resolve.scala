package graft.link

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.ScalaReflection
import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders.ProductEncoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

import graft.schema.ResolvedRelation

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
  * one file at a time. Here one conversation is one unit of work: its
  * events are hash-partitioned on `conv_id` once, sorted once, and walked
  * in order by a [[Resolver]] that holds the conversation's first
  * definition and alias map (SparkER's "partition once by block key,
  * resolve each block locally"). The streaming `StatefulResolve` feeds the
  * same [[Resolver]] from its group state, so batch and streaming share
  * one resolution function and one output row. No driver-side state, no
  * join, identical results at any parallelism.
  */
object Resolve {

  /** Alias-binding events: (conv_id, ref, turn_idx, mention_idx, target). */
  def bindings(mentions: DataFrame): DataFrame =
    mentions
      .filter(col("kind") === "alias_binding")
      .select(
        col("conv_id"), col("turn_idx"), col("mention_idx"),
        col("subj").as("ref"), col("obj").as("target"))

  /** The fields of a mention the resolver reads. */
  final case class Event(conv_id: String, turn_idx: Int, mention_idx: Int, hop: Int,
      kind: String, subj: String, pred: String, obj: String)

  /** What a conversation's walk has seen so far: each alias's latest
    * binding and the first definition, which `self` resolves to. */
  final case class ConvState(aliases: Map[String, String], self: Option[String])

  /** The precedence chain over one conversation. Fed its events in
    * (turn_idx, mention_idx, hop) order: a definition sets `self` if none
    * is set, a binding rebinds its alias, and a relation returns its row
    * with both refs resolved. A ref is `self`, an alias or a name; every
    * binding is `a<k>` by the extraction grammar, so one alias-map lookup
    * with identity as default resolves both an alias (latest binding, or
    * identity when unbound) and a name. `self` before any definition stays
    * `self`. */
  final class Resolver(from: ConvState = ConvState(Map.empty, None)) {
    private var self = from.self.orNull
    private var aliases = from.aliases

    def state: ConvState = ConvState(aliases, Option(self))

    private def ref(r: String): String =
      if (self != null && r == "self") self else aliases.getOrElse(r, r)

    def apply(e: Event): Option[ResolvedRelation] = e.kind match {
      case "relation" =>
        Some(ResolvedRelation(e.conv_id, e.turn_idx, e.mention_idx, e.hop,
          ref(e.subj), e.pred, ref(e.obj)))
      case "entity_def" =>
        if (self == null) self = e.subj
        None
      case "alias_binding" =>
        aliases = aliases.updated(e.subj, e.obj)
        None
      case _ => None
    }
  }

  /** [[ResolvedRelation]] with every field declared non-null (the walk
    * never emits a null), so the committed columns stay REQUIRED. */
  private val resolvedRow: Encoder[ResolvedRelation] = {
    val p = ScalaReflection.encoderFor[ResolvedRelation]
      .asInstanceOf[ProductEncoder[ResolvedRelation]]
    ExpressionEncoder(p.copy(fields = p.fields.map(_.copy(nullable = false))))
  }

  private val eventColumns = Encoders.product[Event].schema.fieldNames.map(col).toSeq

  /** Resolve subj/obj of every relation mention. Output: conv_id,
    * turn_idx, mention_idx, hop, subj, pred, obj (resolved), one row per
    * relation mention.
    *
    * One scan of `mentions` projects the 8 columns of an [[Event]]. They
    * are grouped by the `conv_id` column itself, so no appended key
    * crosses the shuffle: the plan is one hash exchange on `conv_id` and
    * one sort on (conv_id, turn_idx, mention_idx, hop), and each
    * conversation streams through one [[Resolver]] in that order, without
    * being collected.
    *
    * AQE cannot split a group: a conversation resolves in one task (as in
    * `StatefulResolve`), so a mega-conversation is a straggler (ROADMAP
    * item 5). */
  def resolved(mentions: DataFrame): DataFrame =
    mentions.select(eventColumns: _*)
      .groupBy(col("conv_id")).as(Encoders.STRING, Encoders.product[Event])
      .flatMapSortedGroups(col("turn_idx"), col("mention_idx"), col("hop")) {
        (_: String, events: Iterator[Event]) =>
          val r = new Resolver
          events.flatMap(r(_))
      }(resolvedRow)
      .toDF()
}
