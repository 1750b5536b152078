package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.{Pipeline, StageStore}

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
      Seq("mentions" -> Pipeline.mentions _, "resolved" -> Pipeline.resolved _,
        "nodes" -> Pipeline.nodes _, "triples" -> Pipeline.triples _,
        "minted_nodes" -> Pipeline.mintedNodes _, "edges" -> Pipeline.edges _,
        "version_nodes" -> Pipeline.versionNodes _,
        "version_edges" -> Pipeline.versionEdges _).foreach { case (stage, read) =>
        assert(read(spark, sfDir).schema === spark.read.parquet(s"$base/$stage").schema, stage)
      }
    }
  }

  test("append-incremental: a new conv batch unions with committed stages, equals full recompute") {
    // conversation-local stages make appends O(new batch): process the new
    // conversations alone, union with the committed tables, re-run only
    // the vocabulary semi-join. Must be row-identical to rebuilding the
    // whole corpus (including cross-batch links: a new conv defining an
    // entity an OLD conv referenced flips that old relation into a triple).
    val full = graft.sources.Transcripts.synthetic(spark, 30, 8)
    val old = full.filter(xxhash64(col("conv_id")) % 2 === 0)
    val neu = full.filter(xxhash64(col("conv_id")) % 2 =!= 0)
    val mOld = graft.extract.Extract.mentions(old)
    val (m, r, t) = Pipeline.appendBatch(mOld, graft.link.Resolve.resolved(mOld), neu)
    val mFull = graft.extract.Extract.mentions(full)
    val rFull = graft.link.Resolve.resolved(mFull)
    val tFull = graft.triples.Triples.knownOnly(
      rFull, graft.triples.Triples.entityNames(mFull))
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
      assert(Set("mentions", "resolved", "triples", "nodes", "edges",
        "version_nodes", "version_edges").subsetOf(stages))
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
}
