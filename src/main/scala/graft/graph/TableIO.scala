package graft.graph

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  /** Reader of a committed table whose schema is already known: no
    * inference pass. */
  def read(spark: SparkSession, table: String, schema: StructType): DataFrame
  /** Schema of a committed table, inferred from its files. */
  def schema(spark: SparkSession, table: String): StructType
  /** (writer partition, rows) of every data file of a committed table,
    * from its metadata alone — driver-side, no Spark job. */
  def partRows(spark: SparkSession, table: String): Seq[(Int, Long)]
}

object ParquetTableIO extends TableIO {
  private val PartFile = """part-(\d+).*\.parquet""".r

  override def exists(spark: SparkSession, table: String): Boolean = {
    val p = new Path(table, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
  override def overwrite(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").parquet(table)
  override def read(spark: SparkSession, table: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(table)
  override def schema(spark: SparkSession, table: String): StructType =
    spark.read.parquet(table).schema
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
