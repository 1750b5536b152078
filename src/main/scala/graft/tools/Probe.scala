package graft.tools

import java.io.{File, PrintWriter}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.SparkEntry
import graft.graph.{Pipeline, StageStore}

/** The probe CLI: `runMain graft.tools.Probe <cmd> <args...>`.
  *
  * {{{
  * query   <sfDir> <reps> <query...>             wall time of each rep per query
  * plans   <sfDir> <outDir> <suffix> [query...]  normalized plans, one file per query
  * columns <sfDir>                               per-column bytes of each committed stage
  * scaling single <p> <nConvs> <turns>           one pipeline run at local[p]
  * scaling control <p> [rows]                    the host-ceiling reference job
  * scaling pair [nConvs] [turns]                 local[2] vs local[8] efficiency
  * scaleup <srcDir> <dstDir> <copies>            key-shifted corpus replica
  * viz     <sfDir> <outFile> [k]                 top-k subgraph as one HTML file
  * }}}
  *
  * Each command is a function of a session, so tests call it on theirs;
  * only `main` builds one (`Pipeline.session`, `SPARK_GRAFT_CPUS` cores
  * unless the command names its parallelism) and stops it. `scaling`
  * prints its result as one JSON line on stdout; progress goes to stderr.
  */
object Probe {

  /** Wall seconds of `reps` full executions of each named query, against
    * the committed stage tables (the intended consumption pattern;
    * `graft.Bench` measures the cold end-to-end story instead). */
  def query(spark: SparkSession, sfDir: String, reps: Int,
      names: Seq[String]): Seq[(String, Seq[Double])] =
    names.map { name =>
      val fn = SparkEntry.queries(name)
      name -> (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
    }

  /** `explain("formatted")` text with its per-session counters — expression
    * IDs (`#123`), exchange `plan_id`s, RDD ids and lambda object names —
    * and the corpus's stage directory (its name carries a code stamp)
    * replaced by fixed tokens, so two dumps of one plan are byte-identical,
    * across commits too, and a diff of two dumps shows only what changed
    * in the plan. */
  private def normalized(plan: String, stageBase: String): String =
    plan.replace(stageBase, "<stages>")
      .replaceAll("#\\d+", "#x")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("RDD\\[\\d+\\]", "RDD[x]")
      .replaceAll("\\$\\$Lambda[^@\\s]*@[0-9a-f]+", "\\$\\$Lambda@x")

  /** Writes each query's normalized formatted plan to
    * `<outDir>/<query>_<suffix>.txt` (every declared query when `names` is
    * empty) and returns the files. Queries whose result is built from
    * driver-side rows (emb_k_sweep, emb_cluster_align) dump the trivial
    * LocalTableScan plan. */
  def plans(spark: SparkSession, sfDir: String, outDir: String, suffix: String,
      names: Seq[String]): Seq[File] = {
    new File(outDir).mkdirs()
    (if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names).map { name =>
      val plan =
        try normalized(
          SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode),
          StageStore.baseFor(sfDir))
        catch { case NonFatal(e) => s"ERROR: $e" }
      val f = new File(outDir, s"${name}_$suffix.txt")
      val w = new PrintWriter(f, "UTF-8")
      try w.write(plan) finally w.close()
      f
    }
  }

  /** One committed stage table as its part-file footers describe it:
    * rows, data files, bytes on disk, and each column's compressed bytes
    * (its column chunks' total size, in schema order). */
  final case class TableColumns(stage: String, rows: Long, files: Int, bytes: Long,
      columns: Seq[(String, Long)])

  /** Every committed stage table under `sfDir`'s stage base, by name, from
    * the footers of its data files: read on the driver, no Spark job.
    * A directory without a commit marker is not a committed table. */
  def columns(spark: SparkSession, sfDir: String): Seq[TableColumns] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new Path(StageStore.baseFor(sfDir))
    val fs = base.getFileSystem(conf)
    val hidden = "[_.].*"
    val tables = if (!fs.exists(base)) Nil else fs.listStatus(base).toSeq
      .filter(st => st.isDirectory && !st.getPath.getName.matches(hidden) &&
        StageStore.io.exists(spark, st.getPath.toString))
    tables.sortBy(_.getPath.getName).map { dir =>
      val files = fs.listStatus(dir.getPath).toSeq
        .filter(st => st.isFile && !st.getPath.getName.matches(hidden))
      val blocks = files.flatMap { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try reader.getFooter.getBlocks.asScala.toSeq finally reader.close()
      }
      val chunks = blocks.flatMap(_.getColumns.asScala).map(c => c.getPath.toDotString -> c.getTotalSize)
      val order = chunks.map(_._1).distinct
      val bytes = chunks.groupMapReduce(_._1)(_._2)(_ + _)
      TableColumns(dir.getPath.getName, blocks.map(_.getRowCount).sum, files.size,
        files.map(_.getLen).sum, order.map(c => c -> bytes(c)))
    }
  }

  private val usage =
    "usage: graft.tools.Probe query|plans|columns|scaling|scaleup|viz <args...> (see Probe.scala)"

  def main(args: Array[String]): Unit = {
    def on[A](cpus: Int)(f: SparkSession => A): A = {
      val spark = Pipeline.session(cpus)
      try f(spark) finally spark.stop()
    }
    val cpus = Pipeline.envCpus
    args.toList match {
      case "query" :: sfDir :: reps :: names =>
        on(cpus)(query(_, sfDir, reps.toInt, names)).foreach { case (name, times) =>
          println(f"[probe] $name reps=${times.map(t => f"$t%.2f").mkString("/")} s")
        }
      case "plans" :: sfDir :: outDir :: suffix :: names =>
        on(cpus)(plans(_, sfDir, outDir, suffix, names))
          .foreach(f => println(s"[plans] $f (${f.length} bytes)"))
      case "columns" :: sfDir :: Nil =>
        on(cpus)(columns(_, sfDir)).foreach { t =>
          println(s"[columns] ${t.stage} rows=${t.rows} files=${t.files} bytes=${t.bytes}")
          t.columns.foreach { case (c, b) =>
            println(f"[columns]   $c%-24s $b%10d  ${100.0 * b / math.max(t.bytes, 1)}%5.1f %%")
          }
        }
      // run each parallelism level in its own JVM to keep JIT, GC and
      // block-manager state of one run out of the other
      case "scaling" :: "single" :: p :: nConvs :: turns :: Nil =>
        println(on(p.toInt)(Scaling.runAt(_, nConvs.toLong, turns.toInt)).json)
      case "scaling" :: "control" :: p :: rows =>
        println(on(p.toInt)(Scaling.control(_, rows.headOption.fold(4000000000L)(_.toLong))))
      // N and 4N = 2 and 8: the benchmark host's memory bandwidth saturates
      // below 32 threads, so 8 -> 32 measures the host, not the engine
      // (BENCH.md)
      case "scaling" :: "pair" :: rest =>
        val nConvs = rest.headOption.fold(500000L)(_.toLong)
        val turns = rest.lift(1).fold(12)(_.toInt)
        val lo = on(2)(Scaling.runAt(_, nConvs, turns))
        val hi = on(8)(Scaling.runAt(_, nConvs, turns))
        println(Scaling.pair(lo, hi, nConvs, turns))
      case "scaleup" :: src :: dst :: copies :: Nil =>
        on(cpus)(ScaleUp.run(_, src, dst, copies.toInt))
      case "viz" :: sfDir :: outFile :: k =>
        on(cpus)(Viz.export(_, sfDir, outFile, k.headOption.fold(100)(_.toInt)))
        println(s"[viz] wrote $outFile")
      case _ =>
        System.err.println(usage)
        sys.exit(2)
    }
  }
}
