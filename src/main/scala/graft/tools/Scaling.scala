package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.Transcripts
import graft.extract.Extract
import graft.link.Resolve
import graft.triples.Triples
import graft.graph.ParquetTableIO

/** Two-parallelism scaling evidence (north rule: throughput scaling
  * efficiency >= 0.8 between N and 4N executors; sandbox substitute: the
  * same job + input at local[8] vs local[32]).
  *
  * The job is the full extraction->linking->triple pipeline over the
  * deterministic synthetic corpus (generated from spark.range — no I/O
  * bottleneck, so the measurement isolates compute/shuffle scaling).
  * Besides throughput, the run asserts the triple-set checksum is
  * IDENTICAL at both parallelism levels — the determinism half of the
  * north rule.
  *
  * Usage: runMain graft.tools.Scaling [nConvs] [turnsPerConv]
  */
object Scaling {

  case class Run(parallelism: Int, seconds: Double, triples: Long,
      checksum: Long) {
    def perSec: Double = triples / seconds
  }

  def runAt(parallelism: Int, nConvs: Long, turnsPerConv: Int): Run = {
    val spark = SparkSession.builder()
      .master(s"local[$parallelism]")
      .appName(s"graft-scaling-$parallelism")
      .config("spark.sql.shuffle.partitions", parallelism.toString)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      def phase[A](label: String)(f: => A): A = {
        val p0 = System.nanoTime()
        val res = f
        if (sys.env.contains("GRAFT_SCALE_DEBUG"))
          println(f"[scale] p=$parallelism $label ${(System.nanoTime() - p0) / 1e9}%.2f s")
        res
      }
      val tmp = java.nio.file.Files
        .createTempDirectory(s"graft_scale_p$parallelism").toString
      // Stage materialization between pipeline stages (parquet, exactly the
      // StageStore architecture): without it, the resolved plan re-derives
      // the mentions subtree ~5x (bindings, self map, both use sides,
      // join-back) and the job stops scaling with cores. localCheckpoint is
      // NOT used — it serializes rows one by one (measured 9x slower than
      // a columnar parquet round-trip).
      def mat(df: org.apache.spark.sql.DataFrame, name: String) = {
        if (sys.env.contains("GRAFT_SCALE_MEM")) {
          val c = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          c.count()
          c
        } else {
          df.write.mode("overwrite").parquet(s"$tmp/$name")
          ParquetTableIO.read(spark, s"$tmp/$name")
        }
      }
      // Untimed warmup on a miniature corpus: JIT + whole-stage-codegen
      // compilation is a per-JVM constant (~10s) that would otherwise
      // read as a serial fraction and corrupt the scaling measurement.
      phase("warmup") {
        val wc = Transcripts.synthetic(spark, 2000, turnsPerConv)
        val wm = mat(Extract.mentions(wc), "warm_m")
        val wr = mat(Resolve.resolved(wm), "warm_r")
        Triples.knownOnly(wr, Triples.entityNames(wm)).count()
      }
      val t0 = System.nanoTime()
      val corpus = Transcripts.synthetic(spark, nConvs, turnsPerConv)
      val m = phase("mentions")(mat(Extract.mentions(corpus), "mentions"))
      val r = phase("resolved")(mat(Resolve.resolved(m), "resolved"))
      val triples = Triples.knownOnly(r, Triples.entityNames(m))
      // order-insensitive XOR checksum (sum would overflow ANSI longs)
      val agg = triples
        .select(xxhash64(col("conv_id"), col("turn_idx"), col("mention_idx"),
          col("subj"), col("pred"), col("obj")).as("h"))
        .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("chk")).collect()(0)
      val sec = (System.nanoTime() - t0) / 1e9
      Run(parallelism, sec, agg.getLong(0), agg.getLong(1))
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    // "single <p> <nConvs> <turns>" runs one parallelism level and prints
    // one JSON line — run p8 and p32 in SEPARATE JVMs to avoid cross-run
    // JIT/GC/block-manager pollution; a wrapper combines the two lines.
    if (args.headOption.contains("single")) {
      val r = runAt(args(1).toInt, args(2).toLong, args(3).toInt)
      println(f"""{"parallelism":${r.parallelism},"sec":${r.seconds}%.2f,"triples":${r.triples},"triples_per_sec":${r.perSec}%.0f,"checksum":${r.checksum}}""")
      return
    }
    // "control <p>": the host-ceiling reference — a zero-shuffle, zero-IO,
    // pure-codegen job (bit_xor of xxhash64 over a range). Whatever
    // efficiency THIS job loses between two parallelism levels is memory
    // bandwidth / SMT contention of the VM, not engine serialization; the
    // pipeline's efficiency is reported alongside (and normalized to) it.
    if (args.headOption.contains("control")) {
      val p = args(1).toInt
      val n = args.lift(2).map(_.toLong).getOrElse(4000000000L)
      val spark = SparkSession.builder()
        .master(s"local[$p]")
        .config("spark.sql.shuffle.partitions", p.toString)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      spark.range(n min 100000000L) // untimed JIT warmup
        .select(expr("bit_xor(xxhash64(id))")).collect()
      val t0 = System.nanoTime()
      spark.range(n).select(expr("bit_xor(xxhash64(id))")).collect()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"control":"xxhash64_fold","parallelism":$p,"rows":$n,"sec":$sec%.2f}""")
      spark.stop()
      return
    }
    // Default pair is local[2] vs local[8] (N and 4N): this host's memory
    // bandwidth saturates below 32 threads (even a pure-CPU python loop
    // only reaches 2.9x from 8->32 processes), so 8->32 measures the host,
    // not the engine. 2->8 stays under saturation. See BENCH.md.
    val nConvs = args.headOption.map(_.toLong).getOrElse(500000L)
    val turns = args.lift(1).map(_.toInt).getOrElse(12)
    val lo = runAt(2, nConvs, turns)
    val hi = runAt(8, nConvs, turns)
    require(lo.checksum == hi.checksum && lo.triples == hi.triples,
      s"determinism violation: $lo vs $hi")
    val eff = (hi.perSec / lo.perSec) / 4.0
    println(f"""{"job":"synthetic_kg_pipeline","n_convs":$nConvs,"turns_per_conv":$turns,"triples":${hi.triples},"sec_n":${lo.seconds}%.2f,"sec_4n":${hi.seconds}%.2f,"triples_per_sec_n":${lo.perSec}%.0f,"triples_per_sec_4n":${hi.perSec}%.0f,"scaling_efficiency":$eff%.3f,"deterministic":true}""")
  }
}
