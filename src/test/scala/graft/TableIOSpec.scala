package graft

import java.io.{File, FileNotFoundException}
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}
import graft.graph.{ParquetTableIO, StageStore}

/** Parquet reads take their schema from a data file's footer on the
  * driver: the reader has the schema Spark would infer, without the
  * inference job. The footer schema itself keeps the file's
  * nullability; a file-source reader makes every field nullable, as
  * inference does. A table is resolved once per session and footer
  * settings while its data files keep their names, lengths and mtimes. */
class TableIOSpec extends SparkSpec {

  private val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  private def inferred(path: String) = spark.read.parquet(path).schema
  private def footerRead(path: String) = ParquetTableIO.read(spark, path).schema

  /** A small table with the column types the inputs use. */
  private def sample(n: Long, parts: Int) = spark.range(0, n, 1, parts).select(
    col("id"), col("id").cast("int").as("i"), concat(lit("t"), col("id")).as("text"),
    (col("id") / 7).cast("decimal(15,2)").as("price"),
    timestamp_seconds(col("id") + 1700000000L).as("ts"),
    lit(java.sql.Date.valueOf("1995-01-01")).as("d"),
    array(col("id").cast("float"), lit(1.5f)).as("embedding"))

  private def relationOf(df: DataFrame) =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRelation => r.relation }.get

  private def tempTable(name: String) =
    Files.createTempDirectory("graft_tableio").resolve(name).toString

  /** `df` as a single-file table at `file`. */
  private def writeFile(df: DataFrame, file: String): Unit = {
    val dir = tempTable("single")
    df.coalesce(1).write.parquet(dir)
    val part = new File(dir).listFiles.filter(_.getName.startsWith("part-")).head
    Files.copy(part.toPath, Paths.get(file), StandardCopyOption.REPLACE_EXISTING)
  }

  test("footer schema equals the inferred schema for every input table") {
    for (sf <- sfDirs) {
      val tables = new File(sf).listFiles.map(_.getName).filter(_.endsWith(".parquet")).sorted
      assert(Set("documents.parquet", "embeddings.parquet", "events.parquet",
        "lineitem.parquet").subsetOf(tables.toSet), sf)
      tables.foreach { t =>
        val p = s"$sf/$t"
        assert(ParquetTableIO.schema(spark, p) === inferred(p), p)
        assert(footerRead(p) === inferred(p), p)
      }
    }
  }

  test("footer schema skips commit markers, checksums and hidden temp files") {
    val dir = Files.createTempDirectory("graft_tableio").resolve("t").toString
    val df = sample(1000, 3)
    df.write.parquet(dir)
    // sorts before every part file: read as a data file, it would fail
    Files.write(Paths.get(dir, ".x.tmp"), "not parquet".getBytes("UTF-8"))
    val names = new File(dir).list.toSet
    assert(names.count(_.startsWith("part-")) === 3)
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    assert(ParquetTableIO.schema(spark, dir) === df.schema)
    assert(footerRead(dir) === inferred(dir))
    assertSameRows(ParquetTableIO.read(spark, dir), spark.read.parquet(dir))
  }

  test("a zero-row table reads with the written and the inferred schema") {
    val dir = Files.createTempDirectory("graft_tableio").resolve("empty").toString
    val df = sample(10, 2).filter(lit(false))
    df.write.parquet(dir)
    assert(ParquetTableIO.schema(spark, dir) === df.schema)
    assert(footerRead(dir) === inferred(dir))
    assert(ParquetTableIO.read(spark, dir).count() === 0)
  }

  test("a table with no data file fails with an error naming it") {
    val dir = Files.createTempDirectory("graft_tableio").toString
    Files.write(Paths.get(dir, "_SUCCESS"), Array.emptyByteArray)
    Files.write(Paths.get(dir, ".x.tmp"), "not parquet".getBytes("UTF-8"))
    val e = intercept[FileNotFoundException](ParquetTableIO.schema(spark, dir))
    assert(e.getMessage.contains(dir))
  }

  test("constructing input and stage readers runs no Spark job") {
    withStageRoot {
      val sf = sfDirs.head
      assert(jobsOf(graft.sources.Transcripts.fromTpch(spark, sf)) === 0,
        "the transcript derivation's five input reads")
      val mix = Seq("doc_dedup_exact", "doc_minhash_lsh", "emb_lsh_buckets",
        "emb_clusters", "doc_tokens", "ev_sessions")
      // first construction commits the query-hosted stages (node_clusters)
      mix.foreach(q => SparkEntry.queries(q)(spark, sf))
      mix.foreach(q => assert(jobsOf(SparkEntry.queries(q)(spark, sf)) === 0, q))
      val stage = s"${StageStore.baseFor(sf)}/node_clusters"
      assert(StageStore.io.exists(spark, stage))
      assert(jobsOf(ParquetTableIO.schema(spark, stage)) === 0)
      assert(footerRead(stage) === inferred(stage))
    }
  }

  test("no engine source reads parquet except through TableIO") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    def files(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(files) else Seq(f)
    val offenders = files(root).filter(_.getName.endsWith(".scala"))
      .filterNot(_.getPath.endsWith("graph/TableIO.scala"))
      .filter(f => new String(Files.readAllBytes(f.toPath), "UTF-8").contains("read.parquet("))
    assert(offenders.isEmpty,
      s"read parquet through graft.graph.ParquetTableIO, not spark.read.parquet: $offenders")
  }

  test("a second read of an unchanged table reuses its relation; no read runs a job") {
    val dir = tempTable("t")
    sample(100, 2).write.parquet(dir)
    var first, second: DataFrame = null
    assert(jobsOf { first = ParquetTableIO.read(spark, dir) } === 0)
    assert(jobsOf { second = ParquetTableIO.read(spark, dir) } === 0)
    assert(relationOf(first) eq relationOf(second))
    assert(second.count() === 100)
  }

  test("a table rewritten at its path reads with its new rows and schema") {
    val dir = tempTable("t")
    sample(100, 2).write.parquet(dir)
    assert(ParquetTableIO.read(spark, dir).count() === 100)
    val wider = sample(40, 3).withColumn("extra", col("i") * 2)
    ParquetTableIO.overwrite(wider, dir)
    assertSameRows(ParquetTableIO.read(spark, dir), wider)
    assert(ParquetTableIO.read(spark, dir).columns.last === "extra")

    val file = tempTable("t.parquet")
    writeFile(sample(100, 1), file)
    val before = new File(file).length
    assert(ParquetTableIO.read(spark, file).count() === 100)
    writeFile(wider, file)
    assert(new File(file).length !== before)
    assertSameRows(ParquetTableIO.read(spark, file), wider)
  }

  test("two reads of one table join on id with fresh attributes") {
    val dir = tempTable("t")
    sample(100, 2).write.parquet(dir)
    val (a, b) = (ParquetTableIO.read(spark, dir), ParquetTableIO.read(spark, dir))
    val joined = a.join(b, a("id") === b("id")).select(a("id"), b("text"))
    assert(joined.count() === 100)
    assert(joined.filter(concat(lit("t"), col("id")) =!= col("text")).count() === 0)
    // not a trivially true `id = id`, which Dataset.join would re-resolve
    val shifted = a.join(b, a("id") === b("id") + 1).select(a("id"), b("id").as("prev"))
    assert(shifted.count() === 99)
    assert(shifted.filter(col("prev") =!= col("id") - 1).count() === 0)
  }

  test("footer settings and sessions key the relation: binaryAsString, newSession") {
    // parquet-hadoop's writer records no Spark schema in the footer, so
    // the footer conversion (and binaryAsString) decides the column type
    val file = tempTable("bin.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required binary b; }")
    val writer = ExampleParquetWriter.builder(new Path(file)).withConf(new Configuration)
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try (0 until 3).foreach(i => writer.write(rows.newGroup().append("id", i.toLong).append("b", s"v$i")))
    finally writer.close()
    def typeOf(s: org.apache.spark.sql.SparkSession) =
      ParquetTableIO.read(s, file).schema("b").dataType
    assert(typeOf(spark) === BinaryType)
    withConf("spark.sql.parquet.binaryAsString" -> "true") {
      assert(typeOf(spark) === StringType)
      assert(ParquetTableIO.read(spark, file).filter(col("b") === "v2").count() === 1)
    }
    assert(typeOf(spark) === BinaryType)
    val other = spark.newSession()
    val mine = relationOf(ParquetTableIO.read(spark, file))
    val theirs = relationOf(ParquetTableIO.read(other, file))
    assert(!(theirs eq mine))
    assert(relationOf(ParquetTableIO.read(other, file)) eq theirs)
    assert(relationOf(ParquetTableIO.read(spark, file)) eq mine)
  }

  test("past the cache bound the least recently read relations are dropped") {
    val src = tempTable("src.parquet")
    writeFile(sample(10, 1), src)
    val tables = (0 to ParquetTableIO.maxRelations).map { i =>
      val t = tempTable(s"t$i.parquet")
      Files.copy(Paths.get(src), Paths.get(t))
      t
    }
    val relations = tables.map(t => relationOf(ParquetTableIO.read(spark, t)))
    assert(relationOf(ParquetTableIO.read(spark, tables.last)) eq relations.last)
    assert(!(relationOf(ParquetTableIO.read(spark, tables.head)) eq relations.head))
  }
}
