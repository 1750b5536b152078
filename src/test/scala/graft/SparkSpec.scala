package graft

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM (Test / fork := true). */
object TestSpark {
  lazy val spark: SparkSession = graft.graph.Pipeline.session(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Run `f` with the stage store rooted in a fresh temp dir. */
  def withStageRoot[A](f: => A): A = {
    val dir = Files.createTempDirectory("graft_test_stages").toString
    val old = sys.props.get("graft.stage.dir")
    sys.props("graft.stage.dir") = dir
    try f finally old match {
      case Some(v) => sys.props("graft.stage.dir") = v
      case None => sys.props.remove("graft.stage.dir")
    }
  }

  /** Run `f` with the given session confs set; each is restored (or
    * unset) afterwards. */
  def withConf[A](confs: (String, String)*)(f: => A): A = {
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Jobs started on this thread while `f` runs. */
  def jobsOf(f: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group) n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try f
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  /** Executed plans of the queries and writes run while `f` runs. */
  def plansOf(f: => Any): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try f
    finally {
      ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    plans.asScala.toSeq
  }

  /** Order-insensitive comparison (the reference's CFG-test style:
    * set semantics over emitted rows, test_cfg_parser.py:32-84). */
  def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(r => (0 until r.length).map(r.get)).toSet

  def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    val (sa, sb) = (rowSet(a), rowSet(b))
    val missing = sb -- sa
    val extra = sa -- sb
    assert(missing.isEmpty && extra.isEmpty,
      s"missing=${missing.take(5)} extra=${extra.take(5)}")
  }

  import java.sql.Timestamp
  def turns(rows: (String, Int, String)*): DataFrame = {
    // (conv_id, turn_idx, text) with synthetic role/tool/ts
    val data = rows.map { case (c, i, t) =>
      graft.schema.Turn(c, i, "user", t, "", new Timestamp(1700000000000L + i * 1000L))
    }
    spark.createDataFrame(data)
  }
}
