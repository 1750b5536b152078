package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.ParquetTableIO

/** Pressure-test corpus builder: replicate a TPC-H-derived test corpus
  * `copies`x by shifting CONVERSATION keys while keeping the dimension
  * tables (customer/supplier/part) fixed.
  *
  * This is the deliberate scale-up direction for the KG pipeline: the
  * conversation count (and with it mentions/triples) grows `copies`x but
  * the entity vocabulary does not, so per-entity fan-in — the skew that
  * AQE's broadcast choice and skew-join split handle — grows `copies`x
  * too. A corpus where the vocabulary also grew would dilute the hot keys
  * and test nothing new.
  *
  * documents/embeddings replicate with density-preserving id shifts
  * (shift = exact table count, so vec_id stays dense from 0 — the seed
  * contract of Clustering.lloyd).
  *
  * Driven by `graft.tools.Probe scaleup <srcDir> <dstDir> <copies>`.
  */
object ScaleUp {
  def run(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    def read(t: String): DataFrame = ParquetTableIO.read(spark, s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")

    /** Union of `copies` key-shifted replicas. */
    def replicate(df: DataFrame, keyCols: Seq[String], shift: Long): DataFrame =
      (0 until copies).map { i =>
        keyCols.foldLeft(df)((d, k) =>
          d.withColumn(k, (col(k) + lit(i * shift)).cast(df.schema(k).dataType)))
      }.reduce(_ unionByName _)

    // shift derived from the actual key range (+1): a fixed constant
    // overlaps at sf >= 10 or when re-scaling an already-scaled dir, and
    // overlapping shifts silently MERGE replicas into existing
    // conversations instead of failing (VERDICT r04 advice) — same rule
    // documents/embeddings already use (shift = exact count)
    val orderShift = read("orders")
      .agg(max(col("o_orderkey").cast("long"))).collect()(0).getLong(0) + 1L
    // the replicate cast back to the source dtype must not wrap
    require(read("orders").schema("o_orderkey").dataType.typeName == "long" ||
      copies * orderShift <= Int.MaxValue,
      s"ScaleUp: $copies x shift $orderShift overflows the 32-bit o_orderkey")
    write(replicate(read("orders"), Seq("o_orderkey"), orderShift), "orders")
    write(replicate(read("lineitem"), Seq("l_orderkey"), orderShift), "lineitem")
    for (t <- Seq("customer", "supplier", "part", "nation", "region", "events"))
      write(read(t), t)
    val nDocs = read("documents").count()
    write(replicate(read("documents"), Seq("doc_id"), nDocs), "documents")
    val nVecs = read("embeddings").count()
    write(replicate(read("embeddings"), Seq("vec_id"), nVecs), "embeddings")
    println(s"[scaleup] wrote $dst: ${copies}x conversations/documents/" +
      s"embeddings, dimensions fixed")
  }
}
