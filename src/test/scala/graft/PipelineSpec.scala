package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.canonical.Canonical
import graft.extract.Extract
import graft.graph.{ParquetTableIO, Pipeline, StageStore}
import graft.link.Resolve
import graft.sources.Transcripts
import graft.triples.Triples
import graft.version.Versions

/** Checkpoint/resume semantics of the staged pipeline (north rule:
  * "resumable from checkpoint with per-partition lineage + metrics"). */
class PipelineSpec extends SparkSpec {

  test("stages are computed once and reused; pipeline is resumable") {
    withStageRoot {
      val sfDir = "/root/testdata/sf0.001"
      val n1 = Pipeline.runAll(spark, sfDir)
      assert(n1 > 0)
      // mutate the committed mentions stage: a resumed run must NOT
      // recompute it (it reads the committed table as-is)
      val base = StageStore.baseFor(sfDir)
      val marker = spark.read.parquet(s"$base/mentions").count()
      val n2 = Pipeline.runAll(spark, sfDir)
      assert(n2 === n1, "resumed run must reuse committed stages")
      assert(spark.read.parquet(s"$base/mentions").count() === marker)
      // committed readers carry the schema a parquet read would infer
      Pipeline.stages.foreach { s =>
        assert(Pipeline.stage(spark, sfDir, s.name).schema ===
          spark.read.parquet(s"$base/${s.name}").schema, s.name)
      }
    }
  }

  private val sf0001 = "/root/testdata/sf0.001"

  /** Stages committed (`_SUCCESS` written) in the current stage root. */
  private def committed(sfDir: String): Set[String] =
    Option(new java.io.File(StageStore.baseFor(sfDir)).listFiles()).toSeq.flatten
      .filter(d => new java.io.File(d, "_SUCCESS").exists).map(_.getName).toSet

  /** (rows, order-free sum of row xxhash64) of a table. */
  private def digest(df: DataFrame): (Long, Option[BigDecimal]) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toSeq.map(col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)))
  }

  /** [[digest]] of every declared stage. */
  private def digests(sfDir: String): Map[String, (Long, Option[BigDecimal])] = {
    val base = StageStore.baseFor(sfDir)
    Pipeline.stages.map(s => s.name -> digest(spark.read.parquet(s"$base/${s.name}"))).toMap
  }

  test("each declared stage builds from its declared inputs alone and commits only itself") {
    val full = withStageRoot {
      Pipeline.schedule(spark, sf0001, Pipeline.registered)
      Paths.get(StageStore.baseFor(sf0001))
    }
    assert(Pipeline.registered.size === 15)
    Pipeline.registered.foreach { s =>
      withStageRoot {
        val base = Paths.get(StageStore.baseFor(sf0001))
        s.inputs.foreach { i =>
          val from = full.resolve(i)
          Using.resource(Files.walk(from)) { _.forEach { p =>
            val to = base.resolve(i).resolve(from.relativize(p))
            Files.createDirectories(to.getParent)
            Files.copy(p, to)
          } }
        }
        assert(committed(sf0001) === s.inputs.toSet)
        Pipeline.stage(spark, sf0001, s.name)
        assert(committed(sf0001) === s.inputs.toSet + s.name,
          s"${s.name} must commit itself and no undeclared upstream stage")
      }
    }
  }

  test("reading a committed stage touches none of its inputs") {
    withStageRoot {
      Pipeline.runAll(spark, sf0001)
      val mentions = new java.io.File(StageStore.baseFor(sf0001), "mentions")
      Using.resource(Files.walk(mentions.toPath)) { paths =>
        paths.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      }
      assert(jobsOf(Pipeline.edges(spark, sf0001)) === 0)
      assert(!mentions.exists, "mentions must not be committed again")
    }
  }

  test("a build that reads an undeclared stage throws before it writes anything") {
    withStageRoot {
      val stray = Pipeline.Stage("stray", Nil, in => in("mentions"))
      intercept[IllegalArgumentException](Pipeline.schedule(spark, sf0001, Seq(stray)))
      assert(committed(sf0001).isEmpty)
      assert(!new java.io.File(StageStore.baseFor(sf0001), "stray").exists)
    }
  }

  test("the scheduled runAll commits the rows and checksums of the sequential accessor order") {
    val scheduled = withStageRoot {
      Pipeline.runAll(spark, sf0001)
      digests(sf0001)
    }
    val sequential = withStageRoot {
      Seq(Pipeline.mentions _, Pipeline.resolved _, Pipeline.nodes _, Pipeline.mintedNodes _,
        Pipeline.edges _, Pipeline.versionNodes _).foreach(_(spark, sf0001))
      digests(sf0001)
    }
    assert(scheduled.keySet === Pipeline.stages.map(_.name).toSet)
    assert(scheduled("edges")._1 > 0)
    assert(scheduled === sequential)
  }

  test("runAll commits only the 6 declared stages, as zstd part files; views run no job") {
    withStageRoot {
      Pipeline.runAll(spark, sf0001)
      val six = Set("mentions", "resolved", "nodes", "minted_nodes", "edges", "version_nodes")
      assert(Pipeline.stages.map(_.name).toSet === six)
      val base = StageStore.baseFor(sf0001)
      val dirs = new java.io.File(base).listFiles().filterNot(_.getName.startsWith("_"))
      assert(dirs.map(_.getName).toSet === six, "stage directories")
      assert(committed(sf0001) === six)
      val conf = spark.sparkContext.hadoopConfiguration
      dirs.foreach { d =>
        val data = d.listFiles().filterNot(_.getName.matches("[_.].*"))
        assert(data.nonEmpty, d.getName)
        data.foreach { f =>
          assert(f.getName.matches("""part-\d{5}-.+\.zstd\.parquet"""), f.getName)
          val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
          val codecs = try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
            .map(_.getCodec).toSet finally reader.close()
          assert(codecs === Set(CompressionCodecName.ZSTD), f.getName)
        }
        val rows = spark.read.parquet(d.getPath).count()
        assert(ParquetTableIO.partRows(spark, d.getPath).map(_._2).sum === rows, d.getName)
        assert(StageStore.committedRows(spark, sf0001, d.getName) === rows, d.getName)
      }
      assert(jobsOf(Pipeline.triples(spark, sf0001)) === 0)
      assert(jobsOf(Pipeline.versionEdges(spark, sf0001)) === 0)
      assert(committed(sf0001) === six, "a view must commit nothing")
    }
  }

  test("edges from resolved = edges from known-only triples; views = committed forms") {
    def sameTable(a: DataFrame, b: DataFrame, what: String): Unit = {
      assert(a.schema === b.schema, what)
      val (da, db) = (digest(a), digest(b))
      assert(da === db, what)
      assert(da._1 > 0, what)
    }
    def edgesBothWays(resolved: DataFrame, nodes: DataFrame, what: String): Unit = {
      val vocab = nodes.select("canonical_name")
      assert(resolved.join(vocab.withColumnRenamed("canonical_name", "obj"), Seq("obj"),
        "left_anti").count() > 0, s"$what: the corpus must hold unknown objects")
      sameTable(Canonical.edges(resolved, nodes),
        Canonical.edges(Triples.knownOnly(resolved, vocab), nodes), what)
    }
    withStageRoot {
      edgesBothWays(Pipeline.resolved(spark, sf0001), Pipeline.nodes(spark, sf0001), "sf0.001")
      // the forms the two tables had as committed stages, committed here
      // from the expressions their stages built
      val triples = StageStore.getOrCreate(spark, sf0001, "triples") {
        Triples.knownOnly(Pipeline.resolved(spark, sf0001),
          Pipeline.nodes(spark, sf0001).select("canonical_name"))
      }
      val versionEdges = StageStore.getOrCreate(spark, sf0001, "version_edges") {
        Versions.versionEdges(Pipeline.versionNodes(spark, sf0001))
      }
      sameTable(Pipeline.triples(spark, sf0001), triples, "triples")
      sameTable(Pipeline.versionEdges(spark, sf0001), versionEdges, "version_edges")
    }
    // a hot object on 60 % of relations, and objects nothing defines
    val m = Extract.mentions(Transcripts.synthetic(spark, 300, 12, vocab = 500, hotPct = 60))
      .localCheckpoint()
    edgesBothWays(Resolve.resolved(m).localCheckpoint(),
      Canonical.nodes(Triples.entityNames(m)).localCheckpoint(), "hot-entity corpus")
  }

  test("a second runAll on the shared session compiles no class") {
    def compiled(f: => Any): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      f
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    withStageRoot(Pipeline.runAll(spark, sf0001))
    assert(withStageRoot(compiled(Pipeline.runAll(spark, sf0001))) === 0,
      "a second build of the same plans must find every class in the codegen cache")
  }

  test("a failing stage: the scheduler rethrows it after the independent stages finish; a rerun commits the rest") {
    withStageRoot {
      val boom = new IllegalStateException("resolve failed")
      val failing = Pipeline.stages.map(s =>
        if (s.name == "resolved") s.copy(build = _ => throw boom) else s)
      val thrown = intercept[IllegalStateException](Pipeline.schedule(spark, sf0001, failing))
      assert(thrown eq boom)
      // the dependents of resolved never start; every independent stage
      // has committed by the time the failure is rethrown
      val independent = Set("mentions", "nodes", "version_nodes")
      assert(committed(sf0001) === independent)
      val base = StageStore.baseFor(sf0001)
      def stamps = independent.map(s => s -> new java.io.File(s"$base/$s/_SUCCESS").lastModified).toMap
      val before = stamps
      assert(Pipeline.runAll(spark, sf0001) > 0)
      assert(committed(sf0001) === Pipeline.stages.map(_.name).toSet)
      assert(stamps === before, "a rerun must not rebuild a committed stage")
      val commits = StageStore.metrics(spark, sf0001).filter(col("name") === "output_rows")
        .groupBy("stage").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(commits === Pipeline.stages.map(_.name -> 1L).toMap)
      // a table whose input is not declared before it is rejected
      intercept[IllegalArgumentException](Pipeline.schedule(spark, sf0001, failing.reverse))
    }
  }

  test("a fatal error in a stage is rethrown by the scheduler, not left hanging") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val deep = new StackOverflowError("deep plan")
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def stage(name: String, inputs: String*)(body: => Unit) =
      Pipeline.Stage(name, inputs, in => { body; ran.add(name); in.spark.range(1).toDF() })
    val table = Seq(
      stage("a")(throw deep),
      stage("b", "a")(()),
      stage("c")(()))
    withStageRoot {
      // on its own thread with a deadline, so a scheduler that never
      // completes fails this test instead of hanging the suite
      val outcome = Future {
        try { Pipeline.schedule(spark, sf0001, table); None } catch { case e: Throwable => Some(e) }
      }
      assert(Await.result(outcome, 60.seconds).exists(_ eq deep))
    }
    assert(ran.toArray.toSeq === Seq("c"))
  }

  test("append-incremental: a new conv batch unions with committed stages, equals full recompute") {
    // conversation-local stages make appends O(new batch): process the new
    // conversations alone, union with the committed tables, re-run only
    // the vocabulary semi-join. Must be row-identical to rebuilding the
    // whole corpus (including cross-batch links: a new conv defining an
    // entity an OLD conv referenced flips that old relation into a triple).
    val full = Transcripts.synthetic(spark, 30, 8)
    val old = full.filter(xxhash64(col("conv_id")) % 2 === 0)
    val neu = full.filter(xxhash64(col("conv_id")) % 2 =!= 0)
    val mOld = Extract.mentions(old)
    val (m, r, t) = Pipeline.appendBatch(mOld, Resolve.resolved(mOld), neu)
    val mFull = Extract.mentions(full)
    val rFull = Resolve.resolved(mFull)
    val tFull = Triples.knownOnly(rFull, Triples.entityNames(mFull))
    assert(rowSet(m) === rowSet(mFull), "mention stage must be append-exact")
    assert(rowSet(r) === rowSet(rFull), "resolution must be conversation-local (append-exact)")
    assert(rowSet(t) === rowSet(tFull), "incremental triples must equal full recompute")
    assert(t.count() > 0)
  }

  test("viz export: bounded top-k subgraph as one self-contained HTML file") {
    withStageRoot {
      val out = Files.createTempDirectory("graft_viz").resolve("g.html").toString
      graft.tools.Viz.export(spark, "/root/testdata/sf0.001", out, k = 40)
      val html = new String(Files.readAllBytes(java.nio.file.Paths.get(out)))
      assert(html.contains("<canvas"))
      assert(html.contains("supplier:") || html.contains("customer:") ||
        html.contains("part:"), "top-degree node names must be embedded")
      // bounded regardless of corpus size: k nodes + capped edges only
      assert(html.length < 200000, s"viz must stay O(k), got ${html.length} bytes")
    }
  }

  test("lineage has per-partition rows; metrics carry stage throughput") {
    withStageRoot {
      val sfDir = "/root/testdata/sf0.001"
      Pipeline.runAll(spark, sfDir)
      val lin = StageStore.lineage(spark, sfDir)
      assert(lin.columns.toSet ===
        Set("stage", "partition_id", "output_rows", "wall_ms"))
      val stages = lin.select("stage").distinct()
        .collect().map(_.getString(0)).toSet
      assert(stages === Pipeline.stages.map(_.name).toSet)
      // per-partition: at least one stage has multiple partition rows
      val maxParts = lin.groupBy("stage").count()
        .agg(max("count")).collect()(0).getLong(0)
      assert(maxParts >= 1)
      val met = StageStore.metrics(spark, sfDir)
      val names = met.select("name").distinct().collect().map(_.getString(0)).toSet
      assert(Set("output_rows", "wall_ms", "rows_per_sec").subsetOf(names))
      assert(names.contains("approx_distinct_convs"),
        "conv-bearing stages must record a cardinality estimate")
      // lineage row counts must equal the committed table counts
      val mentionsRows = lin.filter(col("stage") === "mentions")
        .agg(sum("output_rows")).collect()(0).getLong(0)
      assert(mentionsRows === spark.read
        .parquet(s"${StageStore.baseFor(sfDir)}/mentions").count())
      // every committed stage: lineage sum = metrics total = table count
      val base = StageStore.baseFor(sfDir)
      val linRows = lin.groupBy("stage").agg(sum("output_rows")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val metRows = met.filter(col("name") === "output_rows").collect()
        .map(r => r.getString(0) -> r.getDouble(2).toLong).toMap
      assert(linRows.keySet === metRows.keySet)
      linRows.foreach { case (stage, n) =>
        assert(metRows(stage) === n, s"$stage: _metrics output_rows")
        assert(spark.read.parquet(s"$base/$stage").count() === n,
          s"$stage: committed table count")
      }
      // the cardinality estimate observed on the write is within 5 %
      val approx = met.filter(col("stage") === "mentions" &&
        col("name") === "approx_distinct_convs").collect()(0).getDouble(2)
      val exact = spark.read.parquet(s"$base/mentions")
        .select("conv_id").distinct().count()
      assert(math.abs(approx - exact) <= 0.05 * exact, s"approx=$approx exact=$exact")
      // a killed commit leaves only its hidden temp file: readers skip it
      val before = rowSet(StageStore.metrics(spark, sfDir))
      Files.write(Paths.get(s"$base/_metrics/.x.json.tmp"),
        "{\"stage\":\"mentions\",\"name\":\"output_rows\",\"value\":-1.0}\n".getBytes("UTF-8"))
      assert(rowSet(StageStore.metrics(spark, sfDir)) === before)
    }
  }

  test("a stage commit runs only its write job; reading a committed stage runs none") {
    withStageRoot {
      val input = Files.createTempDirectory("graft_jobs_input").toString
      def small: DataFrame = spark.range(0, 1000, 1, 4)
        .select(concat(lit("c"), (col("id") % 37).cast("string")).as("conv_id"), col("id"))
      val plainWrite = jobsOf(small.write.parquet(
        Files.createTempDirectory("graft_jobs_plain").resolve("t").toString))
      assert(plainWrite >= 1)
      assert(jobsOf(StageStore.getOrCreate(spark, input, "small")(small)) === plainWrite,
        "a commit must run the write's job(s) and nothing else")
      var reader: DataFrame = null
      assert(jobsOf {
        reader = StageStore.getOrCreate(spark, input, "small")(
          fail("a committed stage must not rebuild"))
      } === 0, "reading a committed stage must run no job")
      assert(reader.schema ===
        spark.read.parquet(s"${StageStore.baseFor(input)}/small").schema)
      assertSameRows(reader, small)
    }
  }

  test("committing resolved from a committed mentions runs two jobs") {
    withStageRoot {
      Pipeline.mentions(spark, sf0001)
      assert(jobsOf(Pipeline.resolved(spark, sf0001)) === 2,
        "one shuffle map stage and the write")
    }
  }

  test("two threads asking for one stage build it once and read one commit") {
    withStageRoot {
      val input = Files.createTempDirectory("graft_race_input").toString
      val builds = new AtomicInteger
      val arrived = new CountDownLatch(2)
      def table: DataFrame = spark.range(0, 200).select(col("id"), (col("id") % 7).as("k"))
      def build: DataFrame = {
        builds.incrementAndGet()
        // both threads have asked for the stage: give the second one time
        // to reach the store before this build commits
        arrived.await(30, TimeUnit.SECONDS)
        Thread.sleep(500)
        table
      }
      val pool = Executors.newFixedThreadPool(2)
      try {
        val results = (1 to 2).map(_ => pool.submit(() => {
          arrived.countDown()
          StageStore.getOrCreate(spark, input, "raced")(build)
        })).map(_.get(120, TimeUnit.SECONDS))
        assert(builds.get === 1, "the stage must be built exactly once")
        results.foreach(assertSameRows(_, table))
      } finally pool.shutdown()
    }
  }

  /** A jar holding `classes` (entry name -> bytes). */
  private def jar(dir: java.nio.file.Path, name: String, classes: Map[String, String]): java.io.File = {
    val f = dir.resolve(name).toFile
    Using.resource(new java.util.jar.JarOutputStream(new java.io.FileOutputStream(f))) { out =>
      classes.toSeq.sortBy(_._1).foreach { case (n, body) =>
        out.putNextEntry(new java.util.jar.JarEntry(n))
        out.write(body.getBytes("UTF-8"))
        out.closeEntry()
      }
    }
    f
  }

  test("a jar's code stamp is its graft entries, not its mtime") {
    val dir = Files.createTempDirectory("graft_jar_stamp")
    val classes = Map("graft/A.class" -> "a-bytes", "graft/b/B.class" -> "b-bytes")
    val one = jar(dir, "one.jar", classes)
    val two = Files.copy(one.toPath, dir.resolve("two.jar")).toFile
    assert(one.setLastModified(1000000000000L) && two.setLastModified(1700000000000L))
    assert(StageStore.jarStamp(one) === StageStore.jarStamp(two))
    val changed = jar(dir, "changed.jar", classes + ("graft/b/B.class" -> "b-bytez"))
    assert(StageStore.jarStamp(changed) !== StageStore.jarStamp(one))
  }
}
