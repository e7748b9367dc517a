package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Parquet table loaders for the driver-generated star schema
  * (`TESTDATA.md`), and the engine's one parquet reader ([[parquet]]).
  * All queries take the sf directory as a parameter so the same code
  * runs at any scale factor.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** Reads the parquet file or dir at `path` without a schema job.
    * `spark.read.parquet` infers the schema with a one-task Spark job even
    * when it reads a single footer (Spark 4.1's non-merging inference),
    * so every load cost a job before its query was built. This reads
    * the same footer on the driver instead — `_common_metadata`, then
    * `_metadata`, then the first data file in full-path order, listed
    * by the same `InMemoryFileIndex` with the same hidden-file and
    * partition-dir rules — converts it with the function the inference
    * job runs, and hands the schema to `spark.read`. Spark still lists
    * the path and appends the partition columns it discovers. A missing
    * path or a dir with no data file goes to `spark.read.parquet`, so
    * the caller gets Spark's own error. `recursive` is the
    * `recursiveFileLookup` read of a dir of per-batch subdirs.
    */
  def parquet(spark: SparkSession, path: String, recursive: Boolean = false): DataFrame = {
    val options =
      if (recursive) Map("recursiveFileLookup" -> "true") else Map.empty[String, String]
    val reader = spark.read.options(options)
    footerSchema(spark.asInstanceOf[classic.SparkSession], new Path(path), options)
      .fold(reader.parquet(path))(reader.schema(_).parquet(path))
  }

  private def footerSchema(s: classic.SparkSession, root: Path,
      options: Map[String, String]): Option[StructType] = {
    val conf = s.sessionState.newHadoopConfWithOptions(options)
    if (!root.getFileSystem(conf).exists(root)) None
    else {
      val summaries = Seq("_common_metadata", "_metadata")
      val leaves = new InMemoryFileIndex(s, Seq(root), options, None).allFiles()
        .sortBy(_.getPath.toString)
      summaries.flatMap(n => leaves.find(_.getPath.getName == n)).headOption
        .orElse(leaves.find(f => !summaries.contains(f.getPath.getName)))
        .map { f =>
          val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS))
          ParquetFileFormat.readSchemaFromFooter(footer,
            new ParquetToSparkSchemaConverter(s.sessionState.conf))
        }
    }
  }

  /** `events` with its TIMESTAMP(NANOS) column normalized: requires
    * `spark.sql.legacy.parquet.nanosAsLong=true` (set by [[Sessions]],
    * Verify and Bench), yielding `ts_ns: Long` plus a µs-truncated proper
    * timestamp `ts`. Oracle-side equivalents: `epoch_ns(ts)` and
    * `date_trunc('microseconds', ts)`.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) layout under nanosAsLong
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case TimestampNTZType =>
        // timestamp[us] written without UTC adjustment reads as NTZ; the
        // generator's wall-clock IS the UTC instant and the session tz is
        // pinned UTC (Sessions), so the cast preserves the instant —
        // DuckDB's epoch_us/epoch_ns over the same file agree.
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
      case _ =>
        raw.withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    }
  }

  /** Register every table as a temp view (handy for spark.sql tests). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
