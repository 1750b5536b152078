package graft.graph

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.StructType

/** Storage abstraction for stage tables (SURVEY §7.0): the pipeline's
  * checkpoint semantics (atomic commit, exists-check for resume, reads
  * with a known schema, per-partition row counts of a commit) behind one
  * trait. The sandbox ships no Iceberg runtime jar, so the default is the
  * parquet implementation with equivalent commit semantics (`_SUCCESS` as
  * the snapshot marker, part-file footers as the commit's file manifest);
  * on a cluster an Iceberg implementation maps the same operations to
  * `spark.table` / `writeTo(...).createOrReplace` / the snapshot's
  * data-file record counts, and nothing above this trait changes.
  */
trait TableIO {
  def exists(spark: SparkSession, table: String): Boolean
  def overwrite(df: DataFrame, table: String): Unit
  /** Reader of a table with the schema of [[schema]]: no Spark job. An
    * implementation may reuse what it resolved for an unchanged table;
    * every call returns a plan with fresh attribute IDs, so two reads of
    * one table join like two tables. */
  def read(spark: SparkSession, table: String): DataFrame
  /** Schema of a table as its files record it, from its metadata alone —
    * driver-side, no Spark job. A reader makes every field nullable, as
    * Spark's schema inference does. */
  def schema(spark: SparkSession, table: String): StructType
  /** (writer partition, rows) of every data file of a committed table,
    * from its metadata alone — driver-side, no Spark job. */
  def partRows(spark: SparkSession, table: String): Seq[(Int, Long)]
}

/** Parquet tables: a single file or a flat directory of part files. It is
  * also the reader of every parquet input table, so no read in the engine
  * runs Spark's schema-inference job.
  *
  * [[read]] resolves each table once per session. The resolved relation
  * (footer schema plus Spark's `DataSource` resolution and file index) is
  * cached under the session (by identity), the table path and the
  * session's footer-conversion settings ([[converterSettings]]), with a
  * stamp: the name, length and mtime of every data file from one driver
  * `listStatus`. A read lists the table once; an equal stamp reuses the
  * relation, any other stamp (a file added, removed, resized or touched,
  * as every `overwrite` does) resolves it again from that listing. A
  * rewrite that keeps every data file's name, length and mtime is not
  * seen, the hazard `StageStore`'s input stamp already accepts. The cache
  * holds the [[maxRelations]] most recently used relations and is emptied
  * when the session's `SparkContext` stops, so it keeps no stopped
  * session alive. */
object ParquetTableIO extends TableIO {
  private val PartFile = """part-(\d+).*\.parquet""".r

  private[graft] val maxRelations = 64

  private case class Key(session: SparkSession, table: String, settings: Seq[Boolean])
  private case class Resolved(stamp: Seq[(String, Long, Long)], relation: BaseRelation)

  /** Access-ordered, so the eldest entry is the least recently used one. */
  private val relations = new java.util.LinkedHashMap[Key, Resolved](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Resolved]): Boolean =
      size > maxRelations
  }
  /** Contexts whose stop already empties the cache (weak: no context is
    * kept alive by being watched). */
  private val watched = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkContext, java.lang.Boolean])

  override def exists(spark: SparkSession, table: String): Boolean = {
    val p = new Path(table, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
  /** Writes zstd-compressed parquet, as a constant. Iceberg, which backs
    * these tables on a cluster, writes zstd by default since 1.4, so the
    * sandbox commits the bytes a deployment would. Against Spark's
    * default snappy the six pipeline stages of a cold sf0.1 build take
    * 33.7 MB instead of 43.9 MB, and every consumer re-reads them. Part
    * files keep the `part-NNNNN-` prefix ([[partRows]]) and end in
    * `.zstd.parquet`. */
  override def overwrite(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").option("compression", "zstd").parquet(table)

  /** One listing; a hit returns the cached relation under new attribute
    * IDs, a miss reads one footer and resolves the reader (see above). */
  override def read(spark: SparkSession, table: String): DataFrame = {
    val files = dataFiles(spark, table)
    val stamp = files.map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
    val key = Key(spark, table, converterSettings(spark.sessionState.conf))
    relations.synchronized(Option(relations.get(key))).filter(_.stamp == stamp) match {
      case Some(hit) => spark.baseRelationToDataFrame(hit.relation)
      case None =>
        val df = spark.read.schema(footerSchema(spark, table, files)).parquet(table)
        val relation = df.queryExecution.analyzed match { case r: LogicalRelation => r.relation }
        val sc = spark.sparkContext
        relations.synchronized {
          if (watched.add(sc)) sc.addSparkListener(new SparkListener {
            override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
              relations.synchronized(relations.clear())
          })
          relations.put(key, Resolved(stamp, relation))
        }
        df
    }
  }

  /** The settings `ParquetToSparkSchemaConverter` reads: under other
    * values one footer converts to another schema. */
  private def converterSettings(c: SQLConf): Seq[Boolean] = Seq(
    c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp, c.caseSensitiveAnalysis,
    c.parquetInferTimestampNTZEnabled, c.legacyParquetNanosAsLong,
    c.parquetFieldIdReadEnabled, c.parquetIgnoreVariantAnnotation,
    c.parquetReaderRespectUnknownTypeAnnotation)

  /** The data files of a table, sorted by name, from one driver listing.
    * Files named `_*` or `.*` (commit markers, checksums, temp files) are
    * not data files. */
  private def dataFiles(spark: SparkSession, table: String): Seq[FileStatus] = {
    val path = new Path(table)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(path).toSeq
      .filter(st => st.isFile && !st.getPath.getName.matches("[_.].*"))
      .sortBy(_.getPath.getName)
  }

  /** The schema Spark infers without `mergeSchema` — the first data file's
    * footer, converted by Spark's own footer conversion under the
    * session's parquet settings — read on the driver instead of in an
    * inference job. */
  override def schema(spark: SparkSession, table: String): StructType =
    footerSchema(spark, table, dataFiles(spark, table))

  private def footerSchema(spark: SparkSession, table: String,
      files: Seq[FileStatus]): StructType = {
    val first = files.headOption.getOrElse(throw new java.io.FileNotFoundException(
      s"ParquetTableIO: no parquet data file in $table"))
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(first, conf))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(first.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  override def partRows(spark: SparkSession, table: String): Seq[(Int, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(table)
    dir.getFileSystem(conf).listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case PartFile(pid) =>
          val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
          try Some(pid.toInt -> reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
          finally reader.close()
        case _ => None
      }
    }
  }
}
