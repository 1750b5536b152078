package graft.extract

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Mention extraction: turn text -> typed mention rows.
  *
  * Reference analog: the recursive AST walk emitting 4 mention kinds
  * (package/call_graph.py:388-435, package/ast_processor.py:85-122). The
  * reference appends one-row pandas frames inside a Python walk (O(n^2));
  * here the whole frontend is one compiled row kernel per turn, `inline`d
  * inside whole-stage codegen: no per-row driver work, and the scan only
  * needs (conv_id, turn_idx, text, ts) thanks to column pruning.
  *
  * One turn -> N mention rows (the Generator/UDTF shape); `mention_idx` is
  * the segment position inside the turn, making
  * (conv_id, turn_idx, mention_idx) a stable natural key (replaces the
  * reference's global walk-order counters, call_graph.py:44-48).
  */
object Extract {

  /** Single source of truth for the transcript grammar (shared with the
    * test oracle). */
  object Grammar {
    val name = "[A-Za-z]+:[A-Za-z0-9_#]+"
    val ref = s"(?:self|a[0-9]+|$name)"
    // `extends <parent>` = container/inheritance clause (reference
    // class_class_edges 'inherits_from', knowledge_graph.py:1122-1197)
    val defRe = s"^define entity ($name)(?: with qty=([0-9]+))?(?: extends ($name))?$$"
    val aliasRe = s"^alias (a[0-9]+) => ($name)$$"
    val linkRe = s"^link ($ref) -\\[([a-z_]+)\\]-> ($ref)$$"
    // two-hop chain: one segment -> TWO relation mentions (the reference's
    // chained-call splitting a.b().c(), CppAstAdapter.py:528-549 — one
    // mention row fans out to multiple resolved triples)
    val chainRe = s"^chain ($ref) -\\[([a-z_]+)\\]-> ($ref) -\\[([a-z_]+)\\]-> ($ref)$$"
    val segmentSep = " ; "
  }

  // the grammar's patterns, compiled once per JVM
  private val segmentSplit = Pattern.compile(Grammar.segmentSep)
  private val definePattern = Pattern.compile(Grammar.defRe)
  private val aliasPattern = Pattern.compile(Grammar.aliasRe)
  private val linkPattern = Pattern.compile(Grammar.linkRe)
  private val chainPattern = Pattern.compile(Grammar.chainRe)

  /** The segments of a turn's text, as Spark's `split(text, segmentSep, -1)`
    * cuts them: trailing empty segments kept, an empty text one segment. */
  private def segments(text: String): Array[String] = segmentSplit.split(text, -1)

  private val narration: (String, Matcher) = ("narration", null)

  /** The grammar dispatch: the production named by the segment's leading
    * keyword runs one `Matcher.find()`, as `rlike` and `regexp_extract` do
    * (so `$` also matches before a final line terminator). Returns the
    * segment's label and that matcher on its match, or `narration` and
    * null. Every pattern starts with its anchored keyword, so no other
    * production could match. */
  private def parse(seg: String): (String, Matcher) = {
    val (label, p) =
      if (seg.startsWith("define entity ")) ("entity_def", definePattern)
      else if (seg.startsWith("alias ")) ("alias_binding", aliasPattern)
      else if (seg.startsWith("link ")) ("relation", linkPattern)
      else if (seg.startsWith("chain ")) ("chain", chainPattern)
      else return narration
    val m = p.matcher(seg)
    if (m.find()) (label, m) else narration
  }

  // declared, not inferred from a Scala type: an inferred String field is
  // nullable, which would turn the committed columns REQUIRED -> OPTIONAL
  private val mentionType = ArrayType(StructType(
    Seq("mention_idx", "hop").map(StructField(_, IntegerType, nullable = false)) ++
      Seq("kind", "subj", "pred", "obj", "attr", "parent")
        .map(StructField(_, StringType, nullable = false))),
    containsNull = false)

  /** Per turn: one struct per mention, in segment order. A def/alias/link
    * segment gives one row with hop 0, a two-hop chain gives two relation
    * rows, hop 0 and hop 1, under the same `mention_idx`; narration and a
    * null text give none. A group that did not take part in the match is
    * "", as in `regexp_extract`. */
  private final class MentionRows extends UDF1[String, Seq[Row]] {
    def call(text: String): Seq[Row] = {
      if (text == null) return Nil
      val segs = segments(text)
      val out = Seq.newBuilder[Row]
      var i = 0
      while (i < segs.length) {
        val (label, m) = parse(segs(i))
        def g(k: Int): String = { val s = m.group(k); if (s == null) "" else s }
        label match {
          case "entity_def" => out += Row(i, 0, label, g(1), "", "", g(2), g(3))
          case "alias_binding" => out += Row(i, 0, label, g(1), "", g(2), "", "")
          case "relation" => out += Row(i, 0, label, g(1), g(2), g(3), "", "")
          case "chain" =>
            out += Row(i, 0, "relation", g(1), g(2), g(3), "", "")
            out += Row(i, 1, "relation", g(3), g(4), g(5), "", "")
          case _ =>
        }
        i += 1
      }
      out.result()
    }
  }

  /** Per turn: the grammar label of every segment, narration included;
    * a two-hop chain is labeled `chain`. Null for a null text. */
  private final class SegmentKinds extends UDF1[String, Seq[String]] {
    def call(text: String): Seq[String] =
      if (text == null) null else segments(text).toSeq.map(parse(_)._1)
  }

  private val mentionRows =
    udf(new MentionRows, mentionType).asNonNullable()
  private val segmentKinds =
    udf(new SegmentKinds, ArrayType(StringType, containsNull = false))

  /** Extract all mentions. Output: conv_id, turn_idx, mention_idx, kind,
    * subj, pred, obj, attr, parent, hop, ts (absent fields are "", never
    * null). `hop` disambiguates the rows a chain segment fans out to:
    * (conv_id, turn_idx, mention_idx, hop) is a natural key. */
  def mentions(transcripts: DataFrame): DataFrame =
    transcripts
      .select(col("conv_id"), col("turn_idx"), col("ts"),
        inline(mentionRows(col("text"))))
      .select("conv_id", "turn_idx", "mention_idx", "kind", "subj", "pred",
        "obj", "attr", "parent", "hop", "ts")

  /** Per-turn segment subgraph nodes (reference subgraph_nodes,
    * function_graph.py:99-148): every segment of every turn — including
    * narration — becomes a node keyed by the composite
    * (conv_id, turn_idx, seg_idx), labeled with its grammar kind by the
    * same dispatch as [[mentions]]. */
  def segmentNodes(transcripts: DataFrame): DataFrame =
    transcripts.select(col("conv_id"), col("turn_idx"),
      posexplode(segmentKinds(col("text"))).as(Seq("seg_idx", "kind")))

  /** Per-turn segment subgraph edges: consecutive-segment `lead` edges
    * (function_graph.py:61-68). The destination's label rides the SAME
    * window as the destination's index — lead(kind) — because
    * (conv_id, turn_idx, seg_idx) is unique by construction, so "the row
    * this edge points at" IS the next window row. The previous
    * composite-key join-back re-derived the whole posexplode+regex
    * segment scan a second time and paid a join shuffle for a value the
    * window already had (guide §2.4: remove shuffles outright). */
  def segmentEdges(segNodes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("conv_id", "turn_idx").orderBy("seg_idx")
    segNodes
      .withColumn("dst_seg", lead("seg_idx", 1).over(w))
      .withColumn("dst_kind", lead("kind", 1).over(w))
      .filter(col("dst_seg").isNotNull)
      .select(col("conv_id"), col("turn_idx"),
        col("seg_idx").as("src_seg"), col("dst_seg"),
        col("kind").as("src_kind"), col("dst_kind"))
  }

  /** Turn-order edges within each conversation: (turn_idx -> next turn).
    * Reference analog: consecutive-leaf `shift(-1)` edges
    * (package/function_graph.py:61-68) — same `lead` primitive. */
  def turnOrderEdges(transcripts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    transcripts
      .select(col("conv_id"), col("turn_idx"))
      .withColumn("next_turn_idx", lead("turn_idx", 1).over(w))
      .filter(col("next_turn_idx").isNotNull)
  }
}
