package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.json4s._

/** Task metrics folded over every task that ran under one span. */
final class Fold {
  var jobs, tasks, runMs, gcMs, shuffleRead, shuffleWrite, spill, outBytes = 0L
  val durations = mutable.ArrayBuffer.empty[Long]

  def +=(o: Fold): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; outBytes += o.outBytes
    durations ++= o.durations
  }

  /** Slowest task over the median task; 0 when nothing ran. */
  def skew: Double =
    if (durations.isEmpty) 0.0
    else {
      val d = durations.sorted
      d.last.toDouble / math.max(1L, d(d.size / 2))
    }
}

/** One timed region. Durations come from the monotonic clock; the epoch
  * milliseconds line the span up with SQL execution events. */
final case class Span(id: Int, name: String, parent: Int, thread: String,
    startMs: Long, startNs: Long) {
  @volatile var endMs = 0L
  @volatile var endNs = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** A SQL execution seen on the listener bus: the table it wrote, if any,
  * when it ended, and the bytes its file scans read from committed stage
  * tables. */
final class Exec(val outputPath: Option[String]) {
  @volatile var endMs = 0L
  @volatile var stageReadBytes = 0L
}

/** Span recorder and the SparkListener that folds task metrics into spans.
  *
  * Each span sets a Spark job group named after its id, so every job, stage
  * and task started inside it (also from broadcast and subquery threads,
  * which inherit the group) is charged to it. Spans stay in memory until
  * [[dump]]. Only the traced run installs this, once per session. */
final class Tracer private (spark: SparkSession, stageRoot: String) extends SparkListener {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val folds = new ConcurrentHashMap[Int, Fold]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val execs = new ConcurrentHashMap[Long, Exec]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()
  // "size of files read" metric of a scan over a stage table -> execution
  private val scanBytes = new ConcurrentHashMap[Long, Long]()
  private val current = new ThreadLocal[Span]
  private val Group = "perfbench-span-"
  private val InsertPath = """InsertIntoHadoopFsRelationCommand\s+([^,\s]+)""".r

  /** Time `f` as a span; `parent` overrides the calling thread's open span
    * (for work handed to another thread). */
  def span[A](name: String, parent: Option[Span] = None)(f: => A): A = {
    val p = parent.orElse(Option(current.get))
    val s = spans.synchronized {
      val s = Span(spans.size + 1, name, p.map(_.id).getOrElse(0),
        Thread.currentThread.getName, System.currentTimeMillis, System.nanoTime)
      spans += s
      s
    }
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(Group + s.id, name)
    current.set(s)
    try f
    finally {
      s.endNs = System.nanoTime
      s.endMs = System.currentTimeMillis
      current.set(p.orNull)
      if (outer == null) sc.clearJobGroup() else sc.setJobGroup(outer, "")
    }
  }

  /** The calling thread's innermost open span. */
  def open: Option[Span] = Option(current.get)

  private def spanOf(group: String): Int =
    if (group != null && group.startsWith(Group)) group.stripPrefix(Group).toInt else 0

  private def fold(id: Int): Fold = folds.computeIfAbsent(id, _ => new Fold)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = spanOf(e.properties.getProperty("spark.jobGroup.id"))
    e.stageIds.foreach(stageSpan.put(_, id))
    Option(e.properties.getProperty("spark.sql.execution.id"))
      .foreach(x => execSpan.putIfAbsent(x.toLong, id))
    val f = fold(id)
    f.synchronized { f.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val f = fold(stageSpan.getOrDefault(e.stageId, 0))
    f.synchronized {
      f.tasks += 1
      f.runMs += m.executorRunTime
      f.gcMs += m.jvmGCTime
      f.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      f.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      f.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      f.outBytes += m.outputMetrics.bytesWritten
      f.durations += e.taskInfo.duration
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, new Exec(outputPath(s.sparkPlanInfo)))
      registerScans(s.executionId, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      registerScans(u.executionId, u.sparkPlanInfo)
    case d: SparkListenerDriverAccumUpdates =>
      d.accumUpdates.foreach { case (acc, v) =>
        if (scanBytes.containsKey(acc))
          Option(execs.get(scanBytes.get(acc))).foreach(_.stageReadBytes += v)
      }
    case x: SparkListenerSQLExecutionEnd =>
      Option(execs.get(x.executionId)).foreach(_.endMs = x.time)
    case _ =>
  }

  private def outputPath(p: SparkPlanInfo): Option[String] =
    InsertPath.findFirstMatchIn(p.simpleString).map(_.group(1))
      .orElse(p.children.iterator.flatMap(outputPath).nextOption())

  private def registerScans(exec: Long, p: SparkPlanInfo): Unit = {
    if (p.metadata.get("Location").exists(_.contains(stageRoot)))
      p.metrics.filter(_.name == "size of files read")
        .foreach(m => scanBytes.put(m.accumulatorId, exec))
    p.children.foreach(registerScans(exec, _))
  }

  private def execsUnder(s: Span): Iterable[Exec] = {
    val ids = (s +: descendants(s)).map(_.id).toSet
    execs.asScala.collect {
      case (x, ex) if ids.contains(execSpan.getOrDefault(x, 0)) => ex
    }
  }

  /** Bytes that file scans under `s` read from committed stage tables. */
  def stageReadBytes(s: Span): Long = execsUnder(s).map(_.stageReadBytes).sum

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.BusDrain(spark.sparkContext)

  def all: Seq[Span] = spans.synchronized(spans.toSeq)

  def children(s: Span): Seq[Span] = all.filter(_.parent == s.id)

  def descendants(s: Span): Seq[Span] = children(s).flatMap(c => c +: descendants(c))

  /** Task metrics of `s` and everything below it. */
  def total(s: Span): Fold = {
    val acc = new Fold
    def go(x: Span): Unit = {
      Option(folds.get(x.id)).foreach(f => f.synchronized(acc += f))
      children(x).foreach(go)
    }
    go(s)
    acc
  }

  /** Span time not covered by any child span, in seconds. */
  def selfSeconds(s: Span): Double = {
    val iv = children(s).map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = s.startNs
    iv.foreach { case (a, b) =>
      if (b > reach) { covered += b - (a max reach); reach = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** End (epoch ms) of the last SQL execution under `s` that wrote a path
    * ending in `suffix`. */
  def lastWriteEnd(s: Span, suffix: String): Option[Long] =
    execs.asScala.collect {
      case (x, ex) if execSpan.getOrDefault(x, 0) == s.id &&
        ex.outputPath.exists(_.endsWith(suffix)) && ex.endMs > 0 => ex.endMs
    }.maxOption

  /** Every span with its own task metrics, as JSON. */
  def dump: JValue = JArray(all.map { s =>
    val f = Option(folds.get(s.id)).getOrElse(new Fold)
    JObject(
      "id" -> JInt(s.id), "name" -> JString(s.name), "parent" -> JInt(s.parent),
      "thread" -> JString(s.thread), "start_ms" -> JLong(s.startMs),
      "end_ms" -> JLong(s.endMs), "seconds" -> JDouble(s.seconds),
      "self_seconds" -> JDouble(selfSeconds(s)), "jobs" -> JLong(f.jobs),
      "tasks" -> JLong(f.tasks), "executor_run_s" -> JDouble(f.runMs / 1e3),
      "gc_s" -> JDouble(f.gcMs / 1e3), "shuffle_read_bytes" -> JLong(f.shuffleRead),
      "shuffle_write_bytes" -> JLong(f.shuffleWrite), "spill_bytes" -> JLong(f.spill),
      "output_bytes" -> JLong(f.outBytes), "task_skew" -> JDouble(f.skew),
      "stage_read_bytes" -> JLong(stageReadBytes(s)))
  }.toList)
}

object Tracer {
  private var installed = Option.empty[Tracer]

  /** The session's tracer, registered on first use only. */
  def install(spark: SparkSession): Tracer = synchronized {
    installed.getOrElse {
      // plan metadata carries each scan's location, which tells stage
      // reads from input reads; keep it whole (it only feeds plan strings)
      spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
      val t = new Tracer(spark, graft.graph.StageStore.root)
      spark.sparkContext.addSparkListener(t)
      installed = Some(t)
      t
    }
  }
}
