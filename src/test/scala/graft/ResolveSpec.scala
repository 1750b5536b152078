package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.extract.Extract
import graft.link.Resolve
import graft.sources.Transcripts

/** Precedence-chain cases — ports the reference's resolution tests
  * (test_ast_processor.py:143-163: self/super/local/param/import/identity,
  * shadowing, scope intervals) — and row-for-row parity of the sorted walk
  * with the window form it replaced. */
class ResolveSpec extends SparkSpec {

  private def resolve(rows: (String, Int, String)*) =
    rowSet(Resolve.resolved(Extract.mentions(turns(rows: _*)))
      .select("conv_id", "turn_idx", "mention_idx", "subj", "pred", "obj"))

  test("alias resolves to most recent binding (shadowing)") {
    val r = resolve(
      ("c1", 0, "define entity t:a ; define entity t:b"),
      ("c1", 1, "alias a1 => t:a"),
      ("c1", 2, "link self -[uses]-> a1"),
      ("c1", 3, "alias a1 => t:b"),
      ("c1", 4, "link self -[uses]-> a1"))
    assert(r === Set(
      Seq("c1", 2, 0, "t:a", "uses", "t:a"),
      Seq("c1", 4, 0, "t:a", "uses", "t:b")))
  }

  test("binding earlier in the same turn is in scope") {
    val r = resolve(
      ("c1", 0, "define entity t:x ; alias a2 => t:x ; link a2 -[points]-> t:x"))
    assert(r === Set(Seq("c1", 0, 2, "t:x", "points", "t:x")))
  }

  test("unbound alias falls back to identity") {
    val r = resolve(
      ("c1", 0, "define entity t:x"),
      ("c1", 1, "link a9 -[uses]-> t:x"))
    assert(r === Set(Seq("c1", 1, 0, "a9", "uses", "t:x")))
  }

  test("self resolves to the first definition in scope") {
    val r = resolve(
      ("c1", 0, "define entity t:first"),
      ("c1", 1, "define entity t:second"),
      ("c1", 2, "link self -[mentions]-> t:second"))
    assert(r === Set(Seq("c1", 2, 0, "t:first", "mentions", "t:second")))
  }

  test("self before any definition falls back to identity (matches streaming)") {
    val r = resolve(
      ("c1", 0, "link self -[x]-> t:late"),
      ("c1", 1, "define entity t:late"),
      ("c1", 2, "link self -[y]-> t:late"))
    assert(r === Set(
      Seq("c1", 0, 0, "self", "x", "t:late"),
      Seq("c1", 2, 0, "t:late", "y", "t:late")))
  }

  test("self with no definitions falls back to identity") {
    val r = resolve(("c1", 0, "link self -[x]-> t:y"))
    assert(r === Set(Seq("c1", 0, 0, "self", "x", "t:y")))
  }

  test("bindings are conversation-scoped, not global") {
    val r = resolve(
      ("c1", 0, "define entity t:a ; alias a1 => t:a"),
      ("c2", 0, "define entity t:b ; link t:b -[uses]-> a1"))
    // c2 never bound a1 -> identity
    assert(r === Set(Seq("c2", 0, 1, "t:b", "uses", "a1")))
  }

  test("a chain segment resolves an alias on each of its two hops") {
    val r = resolve(
      ("c1", 0, "define entity t:a ; define entity t:b ; define entity t:c"),
      ("c1", 1, "alias a1 => t:a ; alias a2 => t:b"),
      ("c1", 2, "chain a1 -[calls]-> a2 -[reads]-> t:c"))
    assert(r === Set(
      Seq("c1", 2, 0, "t:a", "calls", "t:b"),
      Seq("c1", 2, 0, "t:b", "reads", "t:c")))
  }

  test("self as the object resolves to the first definition in scope") {
    val r = resolve(
      ("c1", 0, "link t:x -[relates_to]-> self"),
      ("c1", 1, "define entity t:home ; link t:x -[relates_to]-> self"))
    assert(r === Set(
      Seq("c1", 0, 0, "t:x", "relates_to", "self"),
      Seq("c1", 1, 1, "t:x", "relates_to", "t:home")))
  }

  test("resolution is identical at 1 and 7 shuffle partitions") {
    val m = Extract.mentions(graft.sources.Transcripts.synthetic(spark, nConvs = 60,
      turnsPerConv = 12, vocab = 20, hotPct = 30))
    def at(n: Int) = withConf("spark.sql.shuffle.partitions" -> n.toString) {
      rowSet(Resolve.resolved(m))
    }
    val one = at(1)
    assert(one.nonEmpty)
    assert(at(7) === one)
  }

  private val kept = Seq("conv_id", "turn_idx", "mention_idx", "hop", "subj", "pred", "obj")

  /** Test-only copy of the window form of `Resolve.resolved`, less `ts`:
    * one hash exchange on conv_id, then per relation side a prefix window
    * over (conv_id, ref) ordered by (turn_idx, mention_idx, hop), where
    * `first(_def)` resolves `self` and `last(_target)` an alias. */
  private def windowResolved(mentions: DataFrame): DataFrame = {
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
        col("_s").as("subj"), col("pred"), col("_o").as("obj"))
  }

  /** The rows of `df` on the kept columns, as a sorted list (a multiset:
    * a duplicated row counts twice). */
  private def rowList(df: DataFrame): Seq[String] =
    df.select(kept.map(col): _*).collect().map(_.toSeq.mkString("\u0001")).toSeq.sorted

  private def assertWalkEqualsWindow(transcripts: DataFrame): Int = {
    val m = Extract.mentions(transcripts).localCheckpoint()
    val (walk, window) = (rowList(Resolve.resolved(m)), rowList(windowResolved(m)))
    assert(walk.size === window.size)
    val (missing, extra) = (window.diff(walk), walk.diff(window))
    assert(missing.isEmpty && extra.isEmpty,
      s"missing=${missing.take(5)} extra=${extra.take(5)}")
    walk.size
  }

  /** One segment over a small alias and name vocabulary, so aliases are
    * bound, rebound and used unbound, `self` comes before and after
    * definitions, and narration falls between. */
  private def segment(rnd: Random): String = {
    def pick(xs: String*) = xs(rnd.nextInt(xs.length))
    def name = pick("t:a", "t:b", "t:c", "t:d")
    def ref = pick("self", "a0", "a1", "a2", name)
    rnd.nextInt(7) match {
      case 0 => s"define entity $name"
      case 1 | 2 => s"alias ${pick("a0", "a1", "a2")} => $name"
      case 3 | 4 => s"link $ref -[${pick("uses", "calls")}]-> $ref"
      case 5 => s"chain $ref -[calls]-> $ref -[reads]-> $ref"
      case _ => pick("hello world", "ref #12", "")
    }
  }

  test("the sorted walk equals the window form row for row: seeded corpora") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val rnd = new Random(seed)
      val rows = for {
        c <- 0 until 40
        t <- 0 until 1 + rnd.nextInt(8)
      } yield (s"c$c", t, Seq.fill(1 + rnd.nextInt(4))(segment(rnd)).mkString(" ; "))
      assert(assertWalkEqualsWindow(turns(rows: _*)) > 0, s"seed $seed")
    }
    for ((n, t, v, hot) <- Seq((60L, 12, 20L, 30), (25L, 16, 5L, 10), (80L, 6, 50L, 0)))
      assert(assertWalkEqualsWindow(Transcripts.synthetic(spark, nConvs = n,
        turnsPerConv = t, vocab = v, hotPct = hot)) > 0)
  }

  test("the sorted walk equals the window form row for row: edge cases") {
    val n = assertWalkEqualsWindow(turns(
      // self before any definition, then after two definitions in one turn
      ("self", 0, "link self -[x]-> self ; chain self -[y]-> self -[z]-> t:q"),
      ("self", 1, "define entity t:a ; define entity t:b ; link self -[x]-> t:b"),
      ("self", 2, "define entity t:c ; link t:c -[x]-> self"),
      // an unbound alias, then one bound, rebound within a turn and across turns
      ("alias", 0, "link a1 -[x]-> a2"),
      ("alias", 1, "alias a1 => t:a ; link a1 -[x]-> a1 ; alias a1 => t:b ; link a1 -[y]-> a2"),
      ("alias", 2, "link self -[x]-> a1 ; alias a1 => t:c"),
      ("alias", 3, "alias a2 => t:a ; link a1 -[z]-> a2"),
      // chain hops share (turn_idx, mention_idx) and resolve in one scope
      ("chain", 0, "define entity t:h ; alias a1 => t:x ; alias a2 => t:y"),
      ("chain", 1, "chain a1 -[calls]-> a2 -[reads]-> self ; alias a2 => t:z ; chain a2 -[p]-> a1 -[q]-> a2"),
      // a conversation that holds only narration
      ("narration", 0, "hello there ; ref #5"),
      ("narration", 1, "define entity ; linked list")))
    assert(n === 14)
  }

  test("the resolved row: 7 non-null columns, no ts") {
    val r = Resolve.resolved(Extract.mentions(turns(("c1", 0, "define entity t:x ; link self -[x]-> a1"))))
    assert(r.columns.toSeq === kept)
    assert(r.schema.forall(!_.nullable), r.schema.treeString)
  }
}
