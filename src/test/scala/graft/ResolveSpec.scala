package graft

import graft.extract.Extract
import graft.link.Resolve

/** Precedence-chain cases — ports the reference's resolution tests
  * (test_ast_processor.py:143-163: self/super/local/param/import/identity,
  * shadowing, scope intervals). */
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
}
