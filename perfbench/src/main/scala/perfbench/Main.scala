package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.SparkEntry
import graft.extract.Extract
import graft.graph.{Pipeline, StageStore}
import graft.sources.Transcripts

/** One timed operation: its wall time, the rows it produced, an
  * order-insensitive checksum of them and whether its output check held. */
final case class Op(name: String, seconds: Double, rows: Long, hash: Long, ok: Boolean,
    cpu: Cpu = Cpu(0, 0))

/** CPU seconds of this JVM and CPU seconds the hypervisor took from this
  * host's CPUs (`steal` in /proc/stat) over an interval. */
final case class Cpu(processS: Double, stolenS: Double)

final case class Args(workload: String, dir: String, seconds: Int, trace: Boolean,
    cores: Int, seed: Long)

/** What a workload reports back to the runner. */
final case class Outcome(setupDone: (Long, Long, Long), ops: Seq[Op], failures: Seq[String],
    stageBytes: Long, layers: Seq[(String, Double)], detail: Seq[JField])

/** Benchmark JVM: `perfbench.Main <workload> <runDir> <seconds> <trace 0|1>
  * <cores> <seed>`. Reads the inputs the runner generated under `runDir`,
  * writes `result.json` (and `spans.json` when traced) there. */
object Main {

  def main(argv: Array[String]): Unit = {
    val Array(workload, dir, seconds, trace, cores, seed) = argv
    val a = Args(workload, dir, seconds.toInt, trace == "1", cores.toInt, seed.toLong)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val out = workload match {
      case "build" => Build.run(spark, a)
      case "serve" => Serve.run(spark, a)
      case w => sys.error(s"unknown workload $w")
    }
    val result = JObject(
      "setup_done_ms" -> JLong(out.setupDone._1),
      "setup_done_cpu_ns" -> JLong(out.setupDone._2),
      "setup_done_steal_ticks" -> JLong(out.setupDone._3),
      "heap_bytes" -> JLong(Runtime.getRuntime.maxMemory),
      "ops" -> JArray(out.ops.map(o => JObject(
        "name" -> JString(o.name), "seconds" -> JDouble(o.seconds),
        "cpu_s" -> JDouble(o.cpu.processS), "stolen_s" -> JDouble(o.cpu.stolenS),
        "rows" -> JLong(o.rows), "hash" -> JString(o.hash.toString), "ok" -> JBool(o.ok))).toList),
      "failures" -> JArray(out.failures.map(JString(_)).toList),
      "stage_bytes" -> JLong(out.stageBytes),
      "layers" -> JObject(out.layers.map { case (k, v) => k -> JDouble(v) }.toList),
      "detail" -> JObject(out.detail.toList))
    Files.write(new File(dir, "result.json").toPath, compact(render(result)).getBytes(UTF_8))
    spark.stop()
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Now (epoch ms), this JVM's CPU nanoseconds and the host's stolen CPU
    * ticks so far. */
  def mark(): (Long, Long, Long) =
    (System.currentTimeMillis(), os.getProcessCpuTime, stealTicks())

  private def stealTicks(): Long = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+")(8).toLong finally src.close()
  }

  /** `timed`, plus the CPU this JVM used and the CPU stolen from the host. */
  def metered[A](f: => A): (A, Double, Cpu) = {
    val (c0, s0) = (os.getProcessCpuTime, stealTicks())
    val (r, wall) = timed(f)
    (r, wall, Cpu((os.getProcessCpuTime - c0) / 1e9, (stealTicks() - s0) / 100.0))
  }

  /** Closed loop with one client: run `op` until `seconds` have passed,
    * at least once. */
  def loop[A](seconds: Int)(op: => Seq[A]): Seq[A] = {
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[A]
    do out ++= op while ((System.nanoTime() - t0) / 1e9 < seconds)
    out.result()
  }

  /** Force every row and column of `df` (the same physical plan as
    * `queryExecution.toRdd.count()`) in one job, returning the row count
    * and the wrapping sum of each row's xxhash64 — order-insensitive and,
    * unlike a xor, not blind to duplicate rows. It runs as a SQL execution,
    * as a Dataset action would, so its scans report what they read. */
  def countAndHash(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    SQLExecution.withNewExecutionId(df.queryExecution, Some("countAndHash")) {
      df.queryExecution.toRdd.mapPartitions { rows =>
        val proj = UnsafeProjection.create(schema)
        var n, h = 0L
        rows.foreach { r =>
          val u = proj(r)
          n += 1
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        }
        Iterator((n, h))
      }.collect().foldLeft((0L, 0L)) { case ((n, h), (m, g)) => (n + m, h + g) }
    }
  }

  def wipe(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(wipe)
    f.delete()
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) f.listFiles().map(bytesUnder).sum else f.length

  /** Layer metrics shared by every workload, over one traced root span. */
  def sparkLayers(t: Tracer, root: Span, untracedSeconds: Double): Seq[(String, Double)] = {
    val f = t.total(root)
    Seq(
      "spark.executor_run_s" -> f.runMs / 1e3,
      "spark.gc_s" -> f.gcMs / 1e3,
      "spark.shuffle_bytes" -> (f.shuffleRead + f.shuffleWrite).toDouble,
      "spark.spill_bytes" -> f.spill.toDouble,
      "spark.jobs" -> f.jobs.toDouble,
      "spark.tasks" -> f.tasks.toDouble,
      "trace.overhead_s" -> (root.seconds - untracedSeconds),
      "trace.unattributed_s" -> t.selfSeconds(root))
  }

  /** Every per-layer metric name, so each run reports all of them. */
  val LayerNames: Seq[String] = Seq(
    "sources.derive_s", "sources.turns", "extract.mentions_s", "extract.mention_rows",
    "link.resolve_s", "link.shuffle_bytes", "link.task_skew",
    "triples.join_s", "triples.input_bytes",
    "canonical.dense_id_s", "canonical.remap_s", "version.chain_s",
    "graph.commit_s", "graph.obs_s", "graph.stage_write_bytes", "graph.stage_read_bytes",
    "ops.dedup_s", "ops.similarity_s", "ops.clustering_s", "ops.text_s",
    "query.build_df_s", "query.plan_s", "query.exec_s", "query.jobs", "query.tasks",
    "spark.executor_run_s", "spark.gc_s", "spark.shuffle_bytes", "spark.spill_bytes",
    "spark.jobs", "spark.tasks", "trace.overhead_s", "trace.unattributed_s")

  /** `measured` plus 0 for every layer this workload does not run. */
  def allLayers(measured: Seq[(String, Double)]): Seq[(String, Double)] = {
    val m = measured.toMap
    require(m.keySet.subsetOf(LayerNames.toSet), m.keySet -- LayerNames)
    LayerNames.map(n => n -> m.getOrElse(n, 0.0))
  }

  /** The traced root against the untraced wall time of the same work: the
    * top-level spans reconcile when they differ from the untraced time by
    * no more than the tracing overhead. */
  def reconcile(t: Tracer, root: Span, untracedSeconds: Double): Seq[JField] = {
    val top = root.seconds - t.selfSeconds(root)
    Seq("traced_s" -> JDouble(root.seconds), "untraced_s" -> JDouble(untracedSeconds),
      "top_level_spans_s" -> JDouble(top),
      "top_level_spans_reconcile" ->
        JBool(math.abs(top - untracedSeconds) <= math.abs(root.seconds - untracedSeconds)))
  }

  def writeSpans(dir: String, t: Tracer): Unit =
    Files.write(new File(dir, "spans.json").toPath, compact(render(t.dump)).getBytes(UTF_8))
}

/** `build`: a cold staged build (`Pipeline.runAll`) of a seeded corpus into
  * a wiped stage store, as the first work of a fresh JVM — the way the
  * pipeline's own main and `graft.Bench` run it. */
object Build {
  import Main._

  def run(spark: SparkSession, a: Args): Outcome = {
    val corpus = s"${a.dir}/corpus"
    val setupDone = mark()
    val base = new File(StageStore.baseFor(corpus))

    def op(): Seq[Op] = {
      wipe(base)
      val (edges, s, cpu) = metered(Pipeline.runAll(spark, corpus))
      val (n, h) = countAndHash(Pipeline.edges(spark, corpus))
      Seq(Op("runAll", s, edges, h, n == edges, cpu))
    }

    val ops = if (a.trace) op() else loop(a.seconds)(op())
    val stageBytes = bytesUnder(base)
    val (tracedOps, layers, detail) =
      if (a.trace) traced(spark, a, corpus, base, () => op().head) else (Nil, Nil, Nil)
    val all = ops ++ tracedOps
    val failures =
      (if (all.map(o => (o.rows, o.hash)).distinct.size > 1)
        Seq("edge count or checksum differs between builds of one corpus") else Nil) ++
        all.filterNot(_.ok).map(o => s"${o.name}: committed edges differ from runAll's count")
    Files.write(new File(a.dir, "kg_edges.sql").toPath,
      SparkEntry.oracleSql("kg_edges").getBytes(UTF_8))
    Outcome(setupDone, all, failures, stageBytes, layers, detail)
  }

  /** runAll's stage accessors in its order and overlap, each in a span,
    * then the uncommitted transcript derivation and extraction that split
    * the `mentions` stage into derive, extract and commit. The tracing
    * overhead is measured against the untraced build that follows. */
  private def traced(spark: SparkSession, a: Args, corpus: String, base: File,
      untraced: () => Op): (Seq[Op], Seq[(String, Double)], Seq[JField]) = {
    val t = Tracer.install(spark)
    wipe(base)
    val edges = t.span("runAll") {
      val root = t.open
      t.span("stage:mentions")(Pipeline.mentions(spark, corpus))
      val version = Future {
        t.span("stage:version_nodes", root)(Pipeline.versionNodes(spark, corpus))
        t.span("stage:version_edges", root)(Pipeline.versionEdges(spark, corpus))
      }
      t.span("stage:resolved")(Pipeline.resolved(spark, corpus))
      t.span("stage:nodes")(Pipeline.nodes(spark, corpus))
      t.span("stage:triples")(Pipeline.triples(spark, corpus))
      t.span("stage:minted_nodes")(Pipeline.mintedNodes(spark, corpus))
      val e = t.span("stage:edges")(Pipeline.edges(spark, corpus))
      val n = t.span("edges.count")(e.count())
      Await.result(version, Duration.Inf)
      n
    }
    val turns = t.span("probe:derive")(
      Transcripts.fromTpch(spark, corpus).queryExecution.toRdd.count())
    val mentionRows = t.span("probe:extract")(
      Extract.mentions(Transcripts.fromTpch(spark, corpus)).queryExecution.toRdd.count())
    t.drain()
    writeSpans(a.dir, t)

    def span(name: String): Span = t.all.find(_.name == name).get
    val stages = Seq("mentions", "resolved", "nodes", "triples", "minted_nodes", "edges",
      "version_nodes", "version_edges")
    // a stage span is its table's write (derivation included) followed by
    // the commit's observability pass
    def writeEnd(stage: String): Long = {
      val s = span(s"stage:$stage")
      t.lastWriteEnd(s, s"/$stage").getOrElse(s.endMs)
    }
    def write(stage: String): Double = (writeEnd(stage) - span(s"stage:$stage").startMs) / 1e3
    def obs(stage: String): Double = (span(s"stage:$stage").endMs - writeEnd(stage)) / 1e3
    def fold(stage: String): Fold = t.total(span(s"stage:$stage"))

    val root = span("runAll")
    val derive = span("probe:derive").seconds
    val extract = span("probe:extract").seconds
    val layers = Seq(
      "sources.derive_s" -> derive,
      "sources.turns" -> turns.toDouble,
      "extract.mentions_s" -> (extract - derive),
      "extract.mention_rows" -> mentionRows.toDouble,
      "link.resolve_s" -> write("resolved"),
      "link.shuffle_bytes" -> fold("resolved").shuffleWrite.toDouble,
      "link.task_skew" -> fold("resolved").skew,
      "triples.join_s" -> write("triples"),
      "triples.input_bytes" -> t.stageReadBytes(span("stage:triples")).toDouble,
      "canonical.dense_id_s" -> (write("nodes") + write("minted_nodes")),
      "canonical.remap_s" -> write("edges"),
      "version.chain_s" -> (write("version_nodes") + write("version_edges")),
      "graph.commit_s" -> (write("mentions") - extract),
      "graph.obs_s" -> stages.map(obs).sum,
      "graph.stage_write_bytes" -> stages.map(fold(_).outBytes).sum.toDouble,
      "graph.stage_read_bytes" -> t.stageReadBytes(root).toDouble)
    val extractLink = extract - derive + write("resolved")
    val stageLevel = write("mentions") + write("resolved")
    val (n, h) = countAndHash(Pipeline.edges(spark, corpus))
    val op = Op("runAll.traced", root.seconds, edges, h, n == edges)
    val after = untraced()
    (Seq(op, after), allLayers(layers ++ sparkLayers(t, root, after.seconds)),
      reconcile(t, root, after.seconds) ++ Seq(
        "extract_link_share_of_runAll" -> JDouble(extractLink / root.seconds),
        "extract_link_at_least_half" -> JBool(extractLink >= root.seconds / 2),
        "mentions_resolved_stage_share_of_runAll" -> JDouble(stageLevel / root.seconds)))
  }
}

/** `serve`: one driver query at a time, in a seeded order, over a fixed mix
  * of the curation and relational queries, against a corpus whose staged
  * tables the set-up pass committed. */
object Serve {
  import Main._

  /** Query and the layer it belongs to: one or two per ops module, few
    * enough that the cold set-up pass fits a run; see perfbench/README.md. */
  val Mix: Seq[(String, String)] = Seq(
    "doc_dedup_exact" -> "dedup", "doc_minhash_lsh" -> "dedup",
    "emb_lsh_buckets" -> "similarity", "emb_clusters" -> "clustering",
    "doc_tokens" -> "text", "ev_sessions" -> "relational")

  def run(spark: SparkSession, a: Args): Outcome = {
    val dir = s"${a.dir}/corpus"
    val queries = SparkEntry.queries
    def order(pass: Int): Seq[String] =
      new scala.util.Random(a.seed * 1000 + pass).shuffle(Mix.map(_._1))
    // set-up: a cold pass that commits the query-hosted stages and fixes
    // each query's expected output, then two warm-up passes (the second
    // warm pass still ran ~10 % faster than the first), so that timed
    // passes run equally warm however many fit in a run
    val setupPass = order(0).map(q => q -> timed(countAndHash(queries(q)(spark, dir))))
    val expected = setupPass.map { case (q, (r, _)) => q -> r }.toMap
    for (p <- 1 to 2) order(-p).foreach(q => countAndHash(queries(q)(spark, dir)))
    val setupDone = mark()

    def op(q: String): Op = {
      val ((n, h), s, cpu) = metered {
        val df = queries(q)(spark, dir)
        df.queryExecution.executedPlan
        countAndHash(df)
      }
      Op(q, s, n, h, (n, h) == expected(q), cpu)
    }

    var pass = 0
    val ops =
      if (a.trace) order(1).map(op)
      else loop(a.seconds) { pass += 1; order(pass).map(op) }
    val stageBytes = bytesUnder(new File(StageStore.baseFor(dir)))
    val (tracedOps, layers, detail) =
      if (a.trace) traced(spark, a, dir, order(1), () => order(1).map(op), expected)
      else (Nil, Nil, Nil)
    val all = ops ++ tracedOps
    val failures = all.filterNot(_.ok)
      .map(o => s"${o.name}: rows or checksum differ from the set-up pass")
    val setupDetail =
      "setup_pass_s" -> JObject(setupPass.map { case (q, (_, s)) => q -> JDouble(s) }.toList)
    Outcome(setupDone, all, failures, stageBytes, layers, setupDetail +: detail)
  }

  /** One pass of the mix with a span per query and per query phase; the
    * tracing overhead is measured against the untraced pass that follows. */
  private def traced(spark: SparkSession, a: Args, dir: String, order: Seq[String],
      untraced: () => Seq[Op], expected: Map[String, (Long, Long)])
      : (Seq[Op], Seq[(String, Double)], Seq[JField]) = {
    val t = Tracer.install(spark)
    val queries = SparkEntry.queries
    val ops = t.span("pass") {
      order.map { q =>
        val ((n, h), s) = timed(t.span(s"query:$q") {
          val df = t.span("build_df")(queries(q)(spark, dir))
          t.span("plan")(df.queryExecution.executedPlan)
          t.span("exec")(countAndHash(df))
        })
        Op(s"$q.traced", s, n, h, (n, h) == expected(q))
      }
    }
    t.drain()
    writeSpans(a.dir, t)

    val root = t.all.find(_.name == "pass").get
    val perQuery = t.children(root)
    def phase(name: String): Double =
      perQuery.flatMap(t.children).filter(_.name == name).map(_.seconds).sum
    val module = Mix.toMap
    def moduleSeconds(m: String): Double =
      perQuery.filter(s => module(s.name.stripPrefix("query:")) == m).map(_.seconds).sum
    val f = t.total(root)
    // fixed cost of a query: its wall time not explained by executor work
    // spread over every core
    val med = perQuery.sortBy(_.seconds).apply(perQuery.size / 2)
    val medRun = t.total(med).runMs / 1e3
    val medFixed = med.seconds - medRun / a.cores
    val layers = Seq(
      "ops.dedup_s" -> moduleSeconds("dedup"),
      "ops.similarity_s" -> moduleSeconds("similarity"),
      "ops.clustering_s" -> moduleSeconds("clustering"),
      "ops.text_s" -> moduleSeconds("text"),
      "query.build_df_s" -> phase("build_df"), "query.plan_s" -> phase("plan"),
      "query.exec_s" -> phase("exec"),
      "query.jobs" -> f.jobs.toDouble, "query.tasks" -> f.tasks.toDouble,
      "graph.stage_read_bytes" -> t.stageReadBytes(root).toDouble)
    val after = untraced()
    val afterSeconds = after.map(_.seconds).sum
    (ops ++ after, allLayers(layers ++ sparkLayers(t, root, afterSeconds)),
      reconcile(t, root, afterSeconds) ++ Seq(
        "median_query" -> JString(med.name.stripPrefix("query:")),
        "median_query_fixed_s" -> JDouble(medFixed),
        "median_query_executor_run_s" -> JDouble(medRun),
        "median_query_fixed_exceeds_executor_run" -> JBool(medFixed > medRun)))
  }
}
