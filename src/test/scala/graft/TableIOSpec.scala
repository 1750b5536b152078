package graft

import java.io.{File, FileNotFoundException}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.graph.{ParquetTableIO, StageStore}

/** Parquet reads take their schema from a data file's footer on the
  * driver: the reader has the schema Spark would infer, without the
  * inference job. The footer schema itself keeps the file's
  * nullability; a file-source reader makes every field nullable, as
  * inference does. */
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
}
