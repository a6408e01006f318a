package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink format surface. The reference reads and writes only
  * newline-delimited text directories
  * (`/root/reference/mapreduce/manager/__main__.py:402-423`, `738-761`);
  * on Spark the same call shape extends to parquet/csv/json for free via
  * `DataFrameReader`/`DataFrameWriter`, so the engine exposes all four.
  *
  * Scale defaults baked in here:
  *   - readers take an optional explicit schema — at 100 TB, `inferSchema`
  *     means an extra full scan of the data; production pipelines always
  *     pass one;
  *   - csv/json are line-splittable (uncompressed or bzip2) so Spark
  *     parallelizes within files; parquet scans prune columns + push
  *     filters (asserted in PlanSpec).
  */
object Sources {

  def text(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Text lines with their origin file (the reference's per-file identity). */
  def textWithFile(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).withColumn("input_file", org.apache.spark.sql.functions.input_file_name())

  def csv(spark: SparkSession, path: String, schema: Option[StructType] = None, header: Boolean = true): DataFrame = {
    val r = spark.read.option("header", header.toString)
    schema.fold(r.option("inferSchema", "true"))(s => r.schema(s)).csv(path)
  }

  def json(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  def parquet(spark: SparkSession, path: String): DataFrame =
    graft.core.Tables.read(spark, path)

  def writeText(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).text(path)

  /** ORC read/write — same call shape, full pushdown support. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Compressed text: gzip per-file (non-splittable — a 100 TB corpus
    * should prefer many moderate .gz files or a splittable codec so Spark
    * can parallelize within and across files).
    */
  def writeTextGzip(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("compression", "gzip").text(path)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", header.toString).csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Parquet with optional partition columns — the layout that makes
    * partition pruning work downstream (a date-partitioned events table
    * never scans more than the queried dates).
    */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Compacted partitioned write — the small-files guard. A naive
    * partitionBy write emits one file per (shuffle partition × partition
    * value): with 32 tasks and 1000 dates that is 32,000 files per write,
    * and at 100 TB the metadata alone throttles every downstream scan.
    * Repartitioning BY the partition columns first routes each value to one
    * task (one file per value), while `maxRecordsPerFile` re-splits values
    * too large for a single healthy file. Skewed partition values that
    * overwhelm even that get salted by the caller before the write.
    */
  def writeParquetCompacted(
      df: DataFrame,
      path: String,
      partitionBy: Seq[String],
      maxRecordsPerFile: Long
  ): Unit = {
    require(partitionBy.nonEmpty, "compacted write needs partition columns")
    df.repartition(partitionBy.map(org.apache.spark.sql.functions.col): _*)
      .write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .partitionBy(partitionBy: _*)
      .parquet(path)
  }
}
