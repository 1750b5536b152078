package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, xxhash64}
import graft.extract.Extract
import graft.graph.Pipeline
import graft.link.Resolve
import graft.sources.Transcripts
import graft.triples.Triples

/** Above Spark's broadcast threshold a hot key is AQE's to split: the
  * plain shuffle join plans SortMergeJoin(skew=true) over the hot
  * partition and returns exactly the broadcast path's rows. */
class SkewJoinSpec extends SparkSpec {
  import spark.implicits._

  /** Builds and runs `join` with Spark's broadcast off and AQE's skew
    * thresholds lowered to these fixtures' scale (a few KB per
    * partition); returns the rows and the executed plan. */
  private def broadcastOff(join: => DataFrame): (Set[Seq[Any]], String) =
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "16",
      // coalesce upstream reads to the advisory size, not to one partition,
      // so the skewed side has several map outputs to split the hot
      // partition at
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1024",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1024",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1024",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2") {
      val df = join
      (rowSet(df), df.queryExecution.executedPlan.toString)
    }

  private def assertSkewSplit(plan: String): Unit = {
    assert(plan.contains("SortMergeJoin(skew=true)"),
      s"AQE must split the hot partition:\n${plan.take(2000)}")
    assert(!plan.contains("BroadcastExchange"), plan.take(2000))
  }

  test("90 % hot inner join: AQE splits the hot key, rows equal the broadcast join") {
    // 90% of rows share one key — the hot-entity fixture
    val left = (0 until 2000).map { i =>
      (if (i % 10 == 0) s"k$i" else "HOT", i.toLong)
    }.toDF("k", "v").repartition(8)
    val right = (Seq("HOT") ++ (0 until 2000 by 10).map(i => s"k$i"))
      .map(k => (k, k.length.toLong)).toDF("k", "w")
    def join = left.join(right, Seq("k"))
    val viaBroadcast = join
    assert(viaBroadcast.queryExecution.executedPlan.toString.contains("BroadcastExchange"))
    val (rows, plan) = broadcastOff(join)
    assertSkewSplit(plan)
    assert(rows === rowSet(viaBroadcast))
    assert(rows.size === 2000)
  }

  test("60 % hot-entity semi join: knownOnly above the gate equals the broadcast path") {
    // synthetic corpus with a hot entity in ~60% of relation turns
    val corpus = Transcripts.synthetic(spark, nConvs = 300, turnsPerConv = 12,
      vocab = 40, hotPct = 60)
    val m = Extract.mentions(corpus)
    // the vocabulary as Pipeline.triples reads it: a committed table (a
    // derived distinct would hand the join its own partitioning, leaving
    // AQE no shuffle stage on that side to split against)
    val vocab = Files.createTempDirectory("graft_skew_vocab").resolve("v").toString
    Triples.entityNames(m).write.parquet(vocab)
    def known = Triples.knownOnly(Resolve.resolved(m), spark.read.parquet(vocab))
    val viaBroadcast = known
    assert(viaBroadcast.queryExecution.executedPlan.toString.contains("BroadcastExchange"))
    val (rows, plan) = broadcastOff(known)
    assertSkewSplit(plan)
    assert(plan.contains("LeftSemi"), plan.take(2000))
    assert(rows === rowSet(viaBroadcast))
    assert(rows.nonEmpty)
  }

  test("60 % hot append: appendBatch's vocabulary join is split above the gate") {
    val corpus = Transcripts.synthetic(spark, nConvs = 300, turnsPerConv = 12,
      vocab = 40, hotPct = 60)
    val isOld = xxhash64(col("conv_id")) % 2 === 0
    val mOld = Extract.mentions(corpus.filter(isOld))
    val rOld = Resolve.resolved(mOld)
    def appended = Pipeline.appendBatch(mOld, rOld, corpus.filter(!isOld))._3
    val viaBroadcast = appended
    assert(viaBroadcast.queryExecution.executedPlan.toString.contains("BroadcastExchange"))
    val (rows, plan) = broadcastOff(appended)
    assertSkewSplit(plan)
    assert(plan.contains("LeftSemi"), plan.take(2000))
    assert(rows === rowSet(viaBroadcast))
    assert(rows.nonEmpty)
  }
}
