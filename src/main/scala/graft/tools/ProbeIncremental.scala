package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.graph.ParquetTableIO

/** A/B evidence for the checkAgainstIndex candidate pre-filter (VERDICT
  * r05 #1): probe a SMALL incoming batch (the append-ingest shape) against
  * a large corpus index, with the corpus pre-filter forced ON vs OFF via
  * the broadcast gate. Usage:
  *   runMain graft.tools.ProbeIncremental <dir> <batchMod> <reps>
  * (incoming = doc_id % batchMod == 7; corpus = the rest).
  */
object ProbeIncremental {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf1x")
    val batchMod = args.lift(1).map(_.toInt).getOrElse(500)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.ops.Dedup

    // corpus stays a parquet-backed plan so Joins.fitsBroadcast sees real
    // file-size stats (a checkpointed frame has no estimate and would
    // force the semi-join arm in BOTH runs)
    val d = ParquetTableIO.read(spark, s"$dir/documents.parquet")
    val corpus = d.filter(col("doc_id") % batchMod =!= 7)
    val incoming = d.filter(col("doc_id") % batchMod === 7).localCheckpoint()
    val reps0 = corpus.select(col("doc_id"), md5(col("text")).as("_h"))
      .groupBy(col("_h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val index = Dedup.minhashBuckets(corpus.join(reps0, Seq("doc_id")))
      .localCheckpoint() // committed-index stand-in: probe cost only
    println(s"[probeinc] corpus=${corpus.count()} incoming=${incoming.count()}")

    def run(label: String): Unit = (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val n = Dedup.checkAgainstIndex(incoming, index, corpus)
        .queryExecution.toRdd.count()
      println(f"[probeinc] $label rep$i ${(System.nanoTime() - t0) / 1e9}%6.2f s ($n matches)")
    }
    run("wholesale(gate-off)") // corpus fits the 64MB gate -> no pre-filter
    sys.props("graft.broadcast.maxBytes") = "1"
    try run("semi-join(gate-on) ")
    finally sys.props.remove("graft.broadcast.maxBytes")
    spark.stop()
  }
}
