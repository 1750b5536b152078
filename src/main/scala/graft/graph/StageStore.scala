package graft.graph

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.{Lineage, Metric}

/** Checkpointed stage tables: every pipeline stage is materialized to a
  * parquet table exactly once and re-read by all consumers.
  *
  * This is the north rule's "resumable from checkpoint" requirement (and
  * the Spark-native replacement for the reference's by-hand pickle
  * checkpoints, /root/reference/README.md:121-136): a stage whose output
  * table already exists (atomic `_SUCCESS` commit) is skipped on re-run,
  * so a failed/killed pipeline resumes from the last completed stage
  * without recomputation. On a real cluster the same code targets Iceberg
  * tables; parquet directories with `_SUCCESS` carry the equivalent
  * snapshot-commit semantics in this sandbox (SURVEY.md §7.0).
  *
  * Each commit also records per-partition lineage rows
  * (stage, partition_id, rows, wall_ms) and stage-level metric rows —
  * the north rule's observability requirement — taken from the stage's
  * write itself: committing a stage runs one Spark write and no other
  * job, and reading a committed stage runs none.
  */
object StageStore {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Build stamp of the graft code the JVM loaded: for a classes
    * directory the newest modification time under its `graft/` tree, for
    * a jar (spark-submit, `sbt runMain`) the [[jarStamp]]. Any recompile
    * invalidates the cache key below, so stale stage checkpoints cannot
    * survive code changes to ANY stage's logic — not just the grammar.
    * Resume still works across JVM runs of the same build. */
  private def codeStamp: String = try {
    val root = new java.io.File(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    if (root.isDirectory) {
      def newest(f: java.io.File): Long =
        if (f.isDirectory) (0L +: f.listFiles().toSeq.map(newest)).max
        else f.lastModified
      val graftDir = new java.io.File(root, "graft")
      newest(if (graftDir.exists) graftDir else root).toString
    } else jarStamp(root)
  } catch { case _: Throwable => "unknown" }

  /** Hash of the name, CRC-32 and size of every `graft/` entry of a jar,
    * read from its central directory without decompressing anything. Not
    * the jar's mtime: `sbt runMain` writes the same jar afresh under
    * `target/bg-jobs/` for every JVM, which would key every run to a new
    * stage base. */
  private[graft] def jarStamp(jar: java.io.File): String = {
    val zip = new java.util.zip.ZipFile(jar)
    try {
      val entries = zip.entries().asScala.filter(_.getName.startsWith("graft/"))
        .map(e => s"${e.getName}:${e.getCrc}:${e.getSize}").toSeq.sorted
      md5hex(entries.mkString(","))
    } finally zip.close()
  }

  /** Logic fingerprint for the stage-cache key: grammar + derivation text
    * (semantic identity) plus the build stamp (catches changes those
    * strings don't — e.g. resolver/versioning edits). */
  val logicVersion: String = md5hex(Seq(
    "v4",
    graft.extract.Extract.Grammar.defRe,
    graft.extract.Extract.Grammar.aliasRe,
    graft.extract.Extract.Grammar.linkRe,
    graft.extract.Extract.Grammar.chainRe,
    graft.sources.Transcripts.fromTpchOracleSql,
    codeStamp).mkString("|")).take(8)

  def root: String = sys.props.getOrElse("graft.stage.dir",
    sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft_stages")

  /** Fingerprint of the input data itself (path+mtime+size of every file
    * under the corpus dir, full recursive walk — partitioned parquet
    * rewritten at depth >= 3 must invalidate too). Regenerating the
    * parquet at the same path invalidates the stage cache — without this,
    * getOrCreate would silently serve stage tables computed from the OLD
    * data. An unreadable input dir stamps a never-cache-hitting nonce
    * instead of a constant: serving a stale stage table on IO failure is
    * the exact bug the stamp exists to prevent, so degrade to "always
    * recompute" (with a LOUD warning — an operator should see that every
    * run is writing a fresh stage directory), never to "silently reuse".
    *
    * Memoized per (inputKey, JVM): the walk is an O(total-files)
    * driver-side listing, and every baseFor/getOrCreate call repeated it
    * (VERDICT r03 advice) — one stamp per corpus per process is enough,
    * since a driver run reads one corpus snapshot (an input mutated
    * mid-JVM is re-stamped on the next process, exactly like a stage
    * table committed mid-JVM). */
  private val stampCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Drop the memoized input stamps: a LONG-LIVED driver (notebook/test
    * JVM) that regenerates an input corpus at the same path must call
    * this before re-querying, or getOrCreate will keep serving stage
    * tables keyed by the pre-rewrite stamp — the memoization trades that
    * (explicit, documented) hazard for not re-walking the corpus
    * directory on every stage access. */
  def invalidateStampCache(): Unit = stampCache.clear()

  private def inputStamp(inputKey: String): String = {
    val cached = stampCache.get(inputKey)
    if (cached != null) return cached
    try {
      val rootF = new java.io.File(inputKey)
      // an ABSENT path must take the nonce path, not the success path:
      // walk() would otherwise stamp the constant "<path>:0:0," and
      // memoize it — then a corpus appearing (or an NFS mount returning)
      // later in the JVM could never change the stamp, the exact
      // silent-stale-reuse mode the nonce exists to prevent
      if (!rootF.exists())
        throw new java.io.FileNotFoundException(inputKey)
      val sb = new StringBuilder
      def walk(f: java.io.File): Unit =
        if (f.isDirectory)
          f.listFiles().sortBy(_.getName).foreach(walk)
        else sb.append(f.getPath).append(':')
          .append(f.lastModified).append(':').append(f.length).append(',')
      walk(rootF)
      val stamp = sb.toString
      // only SUCCESSFUL walks are memoized: pinning a failure nonce for
      // the JVM would silently reuse stage tables committed under it
      // after a transient listFiles failure (VERDICT r04 advice) — a
      // fresh per-call nonce restores "never silently reuse on IO error"
      stampCache.putIfAbsent(inputKey, stamp)
      stamp
    } catch {
      case e: Throwable =>
        log.warn(
          s"StageStore: input '$inputKey' unreadable (${e.getClass.getSimpleName}); " +
            "stamping a run-unique nonce — every stage recomputes into a " +
            "fresh directory until the input is readable")
        s"unreadable-${System.nanoTime()}"
    }
  }

  def baseFor(inputKey: String): String =
    s"$root/${md5hex(inputKey + "|" + inputStamp(inputKey) + "|" + logicVersion).take(16)}"

  /** Storage backend (parquet here; Iceberg on a cluster — see TableIO). */
  val io: TableIO = ParquetTableIO

  // one lock per stage dir: two threads asking for one stage build it
  // once, while nested builds of different stages (dup_clusters ->
  // dup_pairs) take different locks and cannot deadlock
  private val locks = new ConcurrentHashMap[String, AnyRef]()

  /** Materialize `build` at `<base>/<stage>` unless already committed;
    * return a reader of the committed table. A commit runs the write's
    * own job(s) and nothing else; reading a committed stage runs no job. */
  def getOrCreate(spark: SparkSession, inputKey: String, stage: String)(
      build: => DataFrame): DataFrame = {
    val base = baseFor(inputKey)
    val dir = s"$base/$stage"
    if (!io.exists(spark, dir))
      locks.computeIfAbsent(dir, _ => new Object).synchronized {
        if (!io.exists(spark, dir)) commit(spark, base, stage, dir, build)
      }
    io.read(spark, dir)
  }

  /** Row count of a committed stage from its part-file footers (the
    * `output_rows` its commit recorded) — driver-side, no Spark job. */
  def committedRows(spark: SparkSession, inputKey: String, stage: String): Long =
    io.partRows(spark, s"${baseFor(inputKey)}/$stage").map(_._2).sum

  /** Write `build` to `dir` and record its observability without another
    * Spark job:
    *   - per-partition lineage rows, and `output_rows` as their sum, come
    *     from the committed part files' footers (`partition_id` is the
    *     writer partition);
    *   - `approx_distinct_convs`, for stages with a `conv_id`, is observed
    *     on the write itself (`Dataset.observe`);
    *   - the driver writes both as one small JSON-lines file per table,
    *     under a unique name via temp file + rename, so concurrent commits
    *     never share a staging dir and a killed commit leaves only a
    *     hidden temp file that readers skip. */
  private def commit(spark: SparkSession, base: String, stage: String,
      dir: String, build: => DataFrame): Unit = {
    val t0 = System.nanoTime()
    val df = build
    // entity/conversation cardinality estimate (SURVEY §2.6: metrics use
    // approx_count_distinct — exact distinct would be a full shuffle)
    val obs = if (df.columns.contains("conv_id"))
      Some(Observation(s"commit:$stage:${UUID.randomUUID()}")) else None
    io.overwrite(obs.fold(df)(o => df.observe(o, approx_count_distinct(col("conv_id")))), dir)
    val wallMs = (System.nanoTime() - t0) / 1000000L
    val parts = io.partRows(spark, dir).groupMapReduce(_._1)(_._2)(_ + _).toSeq.sorted
    val rows = parts.map(_._2).sum
    // the observed row arrives over the listener bus right after the write
    val distinctConvs = obs.flatMap { o =>
      val r = Try(Await.result(o.future, 60.seconds))
      r.failed.foreach(e => log.warn(s"StageStore: no observed metrics for stage " +
        s"'$stage' (${e.getClass.getSimpleName}); approx_distinct_convs not recorded"))
      r.toOption.map(_.getLong(0))
    }
    val metrics = Seq(
      Metric(stage, "output_rows", rows.toDouble),
      Metric(stage, "wall_ms", wallMs.toDouble),
      Metric(stage, "rows_per_sec", if (wallMs > 0) rows * 1000.0 / wallMs else 0.0)) ++
      distinctConvs.map(n => Metric(stage, "approx_distinct_convs", n.toDouble))
    val name = s"$stage-${UUID.randomUUID()}.json"
    writeLines(spark, s"$base/_lineage", name, parts.map { case (pid, n) =>
      s"""{"stage":${jsonStr(stage)},"partition_id":$pid,"output_rows":$n,"wall_ms":$wallMs}"""
    })
    writeLines(spark, s"$base/_metrics", name, metrics.map(m =>
      s"""{"stage":${jsonStr(m.stage)},"name":${jsonStr(m.name)},"value":${m.value}}"""))
  }

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Write `lines` to `<dir>/<name>` atomically: a hidden temp file, then
    * a rename. */
  private def writeLines(spark: SparkSession, dir: String, name: String,
      lines: Seq[String]): Unit = {
    val d = new Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(d, s".$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(lines.map(_ + "\n").mkString.getBytes(UTF_8)) finally out.close()
    if (!fs.rename(tmp, new Path(d, name)))
      throw new java.io.IOException(s"StageStore: cannot commit $tmp")
  }

  def lineage(spark: SparkSession, inputKey: String): DataFrame =
    spark.read.schema(Encoders.product[Lineage].schema)
      .json(s"${baseFor(inputKey)}/_lineage")

  def metrics(spark: SparkSession, inputKey: String): DataFrame =
    spark.read.schema(Encoders.product[Metric].schema)
      .json(s"${baseFor(inputKey)}/_metrics")
}
