package graft

import org.apache.spark.sql.functions._
import graft.canonical.Canonical

class CanonicalSpec extends SparkSpec {
  import spark.implicits._

  test("denseIdsBucketed: bijection onto 0..n-1, stable across parallelism") {
    val names = (0 until 500).map(i => s"name_$i").toDF("canonical_name")
    def run(parts: Int) = Canonical
      .denseIdsBucketed(names.repartition(parts), hexChars = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val a = run(1)
    val b = run(8)
    assert(a === b, "IDs must be a pure function of the key set")
    assert(a.values.toSeq.sorted === (0L until 500L))
  }

  test("denseIdsBucketed order is exactly (md5-prefix, key) — the oracle's re-key") {
    val names = (0 until 100).map(i => s"n$i").toDF("canonical_name")
    val got = Canonical.denseIdsBucketed(names)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def bkt(s: String) = md5.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(2)
    val expected = (0 until 100).map(i => s"n$i")
      .sortBy(n => (bkt(n), n)).zipWithIndex.map { case (n, i) => n -> i.toLong }.toMap
    assert(got === expected)
  }

  test("denseIdsBucketedBy: per-group bijection onto 0..n_g-1, parallelism-stable") {
    val names = (0 until 300).map(i => (s"t${i % 3}", s"name_$i"))
      .toDF("node_type", "canonical_name")
    def run(parts: Int) = Canonical
      .denseIdsBucketedBy(names.repartition(parts), "node_type", hexChars = 1)
      .collect()
      .map(r => (r.getAs[String]("node_type"), r.getAs[String]("canonical_name")) ->
        r.getAs[Long]("local_idx")).toMap
    val a = run(1)
    val b = run(8)
    assert(a === b, "local ids must be a pure function of the key set")
    // each group independently dense 0..99
    (0 until 3).foreach { g =>
      val ids = a.collect { case ((t, _), id) if t == s"t$g" => id }.toSeq.sorted
      assert(ids === (0L until 100L), s"group t$g not contiguous")
    }
    // within-group order matches the oracle re-key (md5-prefix, key)
    val t0 = a.collect { case ((t, n), id) if t == "t0" => n -> id }.toSeq
    val expected = t0.map(_._1).sortBy(n =>
      (java.security.MessageDigest.getInstance("MD5").digest(n.getBytes)
        .map("%02x".format(_)).mkString.take(1), n))
      .zipWithIndex.map { case (n, i) => n -> i.toLong }.toMap
    assert(t0.toMap === expected)
  }

  test("mintedNodes continue densely after known nodes") {
    // the known count is the offset; a null name gets no ID
    val minted = Canonical.mintedNodes(2L,
      Seq("x:new2", "x:new1", null).toDF("canonical_name"))
    val rows = minted.collect().map(r => (r.getString(2), r.getLong(1))).toMap
    assert(rows.values.toSet === Set(2L, 3L), "minted IDs continue after the known count")
    assert(rows.keySet === Set("x:new1", "x:new2"))
    assert(minted.select("node_type").distinct().as[String].collect().toSet === Set("x"))
  }

  test("denseIdsBucketedBy drops rows with a null key or group") {
    val names = Seq(("t", "b"), ("t", null), (null, "c"), ("t", "a"))
      .toDF("node_type", "canonical_name")
    val ids = Canonical.denseIdsBucketedBy(names, "node_type", hexChars = 1).collect()
      .map(r => r.getAs[String]("canonical_name") -> r.getAs[Long]("local_idx")).toMap
    assert(ids.keySet === Set("a", "b"))
    assert(ids.values.toSeq.sorted === Seq(0L, 1L))
  }

  test("edges remap endpoints through the node table") {
    val nodes = Canonical.nodes(Seq("t:a", "t:b").toDF("canonical_name"))
    val triples = Seq(("t:a", "uses", "t:b", "c1", 1, 0))
      .toDF("subj", "pred", "obj", "conv_id", "turn_idx", "mention_idx")
    val e = Canonical.edges(triples, nodes).collect()
    assert(e.length === 1)
    val r = e.head
    assert((r.getAs[String]("edge_type"), r.getAs[Long]("src_id"), r.getAs[Long]("dst_id")) === ("uses", 0L, 1L))
  }
}
