package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.extract.Extract

/** Grammar goldens — ports the reference's mock-snippet -> expected-rows
  * pattern (package/tests/test_ast_processor.py:171-246). */
class ExtractSpec extends SparkSpec {

  private def mentionTuples(df: org.apache.spark.sql.DataFrame) =
    rowSet(df.select("conv_id", "turn_idx", "mention_idx", "kind", "subj", "pred", "obj", "attr"))

  test("entity_def with and without state payload") {
    val m = Extract.mentions(turns(
      ("c1", 0, "define entity topic:x"),
      ("c1", 1, "define entity topic:y with qty=42")))
    assert(mentionTuples(m) === Set(
      Seq("c1", 0, 0, "entity_def", "topic:x", "", "", ""),
      Seq("c1", 1, 0, "entity_def", "topic:y", "", "", "42")))
  }

  test("alias binding and multi-segment turns keep positional mention_idx") {
    val m = Extract.mentions(turns(
      ("c1", 0, "some narration ; define entity a:b ; alias a1 => a:b")))
    assert(mentionTuples(m) === Set(
      Seq("c1", 0, 1, "entity_def", "a:b", "", "", ""),
      Seq("c1", 0, 2, "alias_binding", "a1", "", "a:b", "")))
  }

  test("relation mentions parse all three ref shapes") {
    val m = Extract.mentions(turns(
      ("c1", 0, "link self -[uses]-> a3 ; link t:x -[calls]-> t:y")))
    assert(mentionTuples(m) === Set(
      Seq("c1", 0, 0, "relation", "self", "uses", "a3", ""),
      Seq("c1", 0, 1, "relation", "t:x", "calls", "t:y", "")))
  }

  test("narration and malformed segments are ignored") {
    val m = Extract.mentions(turns(
      ("c1", 0, "hello world ; define entity ; link x -> y ; alias => foo"),
      ("c1", 1, "")))
    assert(m.count() === 0)
  }

  test("turn-order edges are lead() pairs per conversation") {
    val t = turns(("c1", 0, "x"), ("c1", 2, "x"), ("c1", 5, "x"), ("c2", 1, "x"))
    val e = Extract.turnOrderEdges(t)
    assert(rowSet(e) === Set(Seq("c1", 0, 2), Seq("c1", 2, 5)))
  }

  test("segment subgraph: every segment is a node; lead edges carry both kinds") {
    import spark.implicits._
    val t = Seq(("c1", 0, "hello world ; define entity t:x ; link t:x -[uses]-> t:x"))
      .toDF("conv_id", "turn_idx", "text")
    val nodes = Extract.segmentNodes(t).collect()
      .map(r => (r.getInt(2), r.getString(3))).sortBy(_._1)
    assert(nodes.toSeq === Seq((0, "narration"), (1, "entity_def"), (2, "relation")))
    val edges = Extract.segmentEdges(Extract.segmentNodes(t)).collect()
      .map(r => (r.getInt(2), r.getInt(3), r.getString(4), r.getString(5))).sortBy(_._1)
    assert(edges.toSeq === Seq(
      (0, 1, "narration", "entity_def"), (1, 2, "entity_def", "relation")))
  }

  // ---- parity with the regex column expressions the kernel replaced -------

  /** Test-only copy of the old `CaseWhen` over `rlike`/`regexp_extract`
    * form of [[Extract.mentions]]. */
  private def refMentions(transcripts: DataFrame): DataFrame = {
    import Extract.Grammar._
    val segs = transcripts.select(
      col("conv_id"), col("turn_idx"), col("ts"),
      posexplode(split(col("text"), segmentSep)).as(Seq("mention_idx", "seg")))
    val isDef = col("seg").startsWith("define entity ") && col("seg").rlike(defRe)
    val isAlias = col("seg").startsWith("alias ") && col("seg").rlike(aliasRe)
    val isLink = col("seg").startsWith("link ") && col("seg").rlike(linkRe)
    val isChain = col("seg").startsWith("chain ") && col("seg").rlike(chainRe)
    def m(kind: String, subj: Column, pred: Column, obj: Column,
        attr: Column, parent: Column) =
      struct(lit(kind).as("kind"), subj.as("subj"), pred.as("pred"),
        obj.as("obj"), attr.as("attr"), parent.as("parent"))
    def g(re: String, i: Int) = regexp_extract(col("seg"), re, i)
    val e = lit("")
    val expanded = when(isDef, array(
        m("entity_def", g(defRe, 1), e, e, g(defRe, 2), g(defRe, 3))))
      .when(isAlias, array(
        m("alias_binding", g(aliasRe, 1), e, g(aliasRe, 2), e, e)))
      .when(isLink, array(
        m("relation", g(linkRe, 1), g(linkRe, 2), g(linkRe, 3), e, e)))
      .when(isChain, array(
        m("relation", g(chainRe, 1), g(chainRe, 2), g(chainRe, 3), e, e),
        m("relation", g(chainRe, 3), g(chainRe, 4), g(chainRe, 5), e, e)))
    segs
      .select(col("conv_id"), col("turn_idx"), col("mention_idx"), col("ts"),
        expanded.as("_ms"))
      .filter(col("_ms").isNotNull)
      .select(col("conv_id"), col("turn_idx"), col("mention_idx"), col("ts"),
        posexplode(col("_ms")).as(Seq("hop", "m")))
      .select(col("conv_id"), col("turn_idx"), col("mention_idx"),
        col("m.kind").as("kind"), col("m.subj").as("subj"),
        col("m.pred").as("pred"), col("m.obj").as("obj"),
        col("m.attr").as("attr"), col("m.parent").as("parent"),
        col("hop").cast("int").as("hop"),
        col("ts"))
  }

  /** Test-only copy of the old `startsWith && rlike` labeling of
    * [[Extract.segmentNodes]]. */
  private def refSegmentNodes(transcripts: DataFrame): DataFrame = {
    import Extract.Grammar._
    transcripts.select(col("conv_id"), col("turn_idx"),
      posexplode(split(col("text"), segmentSep)).as(Seq("seg_idx", "seg")))
      .select(col("conv_id"), col("turn_idx"), col("seg_idx"),
        when(col("seg").startsWith("define entity ") && col("seg").rlike(defRe), "entity_def")
          .when(col("seg").startsWith("alias ") && col("seg").rlike(aliasRe), "alias_binding")
          .when(col("seg").startsWith("link ") && col("seg").rlike(linkRe), "relation")
          .when(col("seg").startsWith("chain ") && col("seg").rlike(chainRe), "chain")
          .otherwise("narration").as("kind"))
  }

  /** One segment drawn from the grammar, narration and near misses. */
  private def segment(rnd: Random): String = {
    def pick(xs: String*) = xs(rnd.nextInt(xs.length))
    def name = pick("t:x", "topic:a_1", "T:#9", "ab:CD", "t:é", "日本:x", "t:", ":x")
    def ref = pick("self", "a0", "a17", name, "a", "selfie")
    def pred = pick("uses", "calls_x", "Uses", "")
    rnd.nextInt(10) match {
      case 0 => s"define entity $name"
      case 1 => s"define entity $name with qty=${pick("0", "42", "", "x")}"
      case 2 => s"define entity $name${pick("", " with qty=7")} extends $name"
      case 3 => s"alias ${pick("a1", "a22", "b1", "a")} => $name"
      case 4 => s"link $ref -[$pred]-> $ref"
      case 5 => s"chain $ref -[$pred]-> $ref -[$pred]-> $ref"
      case 6 => pick("define entity ", "alias a1 =>", "link self -[uses]->", "chain a1 -[x]-> a2",
        "define entity t:x with", "link t:x -[uses]-> t:y extra")
      case 7 => pick("", " ", "hello world", "ünïcödé narration", "linked list", "chained")
      case 8 => s"${pick("define entity t:x", "alias a1 => t:y", "link a1 -[uses]-> self")}${pick("\n", "\r\n", " ", "\t", "\r")}"
      case _ => pick("Define entity t:x", " define entity t:x", "link  self -[uses]-> a1")
    }
  }

  /** Seeded random turns plus the edge cases, as a parquet table so the
    * plans under test read a scan, as the pipeline does. */
  private lazy val parityTurns: DataFrame = {
    val rnd = new Random(20261019L)
    val random = (0 until 600).map { t =>
      val sep = if (rnd.nextInt(8) == 0) Extract.Grammar.segmentSep * 2 else Extract.Grammar.segmentSep
      ("r", t, Seq.fill(1 + rnd.nextInt(5))(segment(rnd)).mkString(sep))
    }
    val edges = Seq(
      "define entity t:x\n", "alias a1 => t:x\r\n", "link self -[uses]-> a1 ",
      "chain self -[a]-> t:x -[b]-> a2\n", "define entity t:x\n\n",
      "", " ; ", " ;  ; ", "; ", " ;",
      " ; define entity t:x", "define entity t:x ; ", "define entity t:x ;  ; alias a1 => t:x",
      "define entity t:x ; ; link self -[uses]-> t:x",
      "define entity t:x!", "alias a1 => t:x y", "link self -[uses]-> t:x -[b]->",
      "chain self -[uses]-> t:x", "define entity t:x extends t:y",
      "define entity t:x with qty=3 extends t:y", "define entity t:x extends t:y with qty=3",
      "define entity t:ñ", "define entity ñ:x ; link t:x -[uses]-> t:ÿ ; alias a1 => t:x",
      "define entity t:x\u2028", "define entity t:x\u0085")
      .zipWithIndex.map { case (text, i) => ("e", i, text) }
    val dir = Files.createTempDirectory("graft_extract_parity").resolve("turns").toString
    (turns(random ++ edges: _*).union(turns(("n", 0, "x")).withColumn("text", lit(null).cast("string"))))
      .coalesce(1).write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("kernel mentions equal the regex column expressions row for row, hop included") {
    val want = refMentions(parityTurns).collect().toSeq
    val got = Extract.mentions(parityTurns).collect().toSeq
    assert(want.map(_.getString(3)).distinct.sorted === Seq("alias_binding", "entity_def", "relation"))
    assert(want.exists(r => r.getInt(9) == 1) && want.exists(_.getString(0) == "e"))
    val bad = want.zipAll(got, null, null).filter { case (a, b) => a != b }
    assert(bad.isEmpty && got.length == want.length,
      s"${got.length} rows vs ${want.length}; first differences: ${bad.take(5).mkString("; ")}")
  }

  test("kernel segment labels equal the startsWith && rlike chain, narration included") {
    val want = refSegmentNodes(parityTurns).collect().toSeq
    val got = Extract.segmentNodes(parityTurns).collect().toSeq
    assert(want.map(_.getString(3)).distinct.sorted ===
      Seq("alias_binding", "chain", "entity_def", "narration", "relation"))
    assert(got === want)
    assert(Extract.segmentNodes(parityTurns).schema === refSegmentNodes(parityTurns).schema)
  }

  test("mentions schema is pinned, nullability included") {
    val str = (n: String) => StructField(n, StringType, nullable = false)
    val int = (n: String) => StructField(n, IntegerType, nullable = false)
    val expected = StructType(Seq(StructField("conv_id", StringType), int("turn_idx"),
      int("mention_idx"), str("kind"), str("subj"), str("pred"), str("obj"), str("attr"),
      str("parent"), int("hop"), StructField("ts", TimestampType)))
    val t = turns(("c1", 0, "define entity t:x"))
    assert(Extract.mentions(t).schema === expected)
    assert(refMentions(t).schema === expected)
  }
}
