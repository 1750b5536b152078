package graft.graph

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
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
  /** Reader of a table with the schema of [[schema]]: no Spark job. */
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
  * runs Spark's schema-inference job. */
object ParquetTableIO extends TableIO {
  private val PartFile = """part-(\d+).*\.parquet""".r

  override def exists(spark: SparkSession, table: String): Boolean = {
    val p = new Path(table, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
  override def overwrite(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").parquet(table)
  override def read(spark: SparkSession, table: String): DataFrame =
    spark.read.schema(schema(spark, table)).parquet(table)

  /** The schema Spark infers without `mergeSchema` — the first data file's
    * footer, converted by Spark's own footer conversion under the
    * session's parquet settings — read on the driver instead of in an
    * inference job. Files named `_*` or `.*` (commit markers, checksums,
    * temp files) are not data files. */
  override def schema(spark: SparkSession, table: String): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(table)
    val first = path.getFileSystem(conf).listStatus(path)
      .filter(st => st.isFile && !st.getPath.getName.matches("[_.].*"))
      .sortBy(_.getPath.getName).headOption
      .getOrElse(throw new java.io.FileNotFoundException(
        s"ParquetTableIO: no parquet data file in $table"))
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
