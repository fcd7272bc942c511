package graft.io

import graft.align.Alignment
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

/** Readers/writers for the reference's master-dataset CSV format
  * (SURVEY.md §2.1 S5/S6): header `Date,{SYM}_{Field}…`, nulls serialized
  * as the literal string "None" (or empty). Canonical storage for the
  * engine is parquet in long format; this is the compatibility layer. */
object BarsIO {

  private val CsvOptions = Map("header" -> "true",
    "nullValue" -> "None", // the reference's literal null text
    "emptyValue" -> "")

  /** S6: read the wide CSV, mapping "None"/"" to null, all prices double,
    * volumes long; returns the wide frame (Date as string, lexicographic =
    * chronological per the reference's date convention). Building the
    * frame runs no Spark job when [[headerSchema]] can read the header. */
  def readWideCsv(spark: SparkSession, path: String): DataFrame = {
    val reader = spark.read.options(CsvOptions)
    val raw = headerSchema(spark, path).fold(reader)(reader.schema).csv(path)
    val typed = raw.columns.map {
      case "Date" => col("Date")
      case c if c.endsWith("_Volume") =>
        when(col(c) === "" || col(c) === "None", lit(null)).otherwise(col(c))
          .cast("long").as(c)
      case c =>
        when(col(c) === "" || col(c) === "None", lit(null)).otherwise(col(c))
          .cast("double").as(c)
    }
    raw.select(typed.toIndexedSeq: _*)
  }

  /** The schema Spark's CSV inference gives `path`, read from the header
    * line through the Hadoop `FileSystem` instead of by a Spark job.
    * Inference takes the first non-empty line of the first file split,
    * and splits are packed largest-first, so that line is the first
    * non-empty line of the largest file. None, and Spark infers as
    * usual, whenever that rule is not certain: a glob, a nested or
    * compressed input, two files tied for largest, a second file large
    * enough to be split, or a largest file with no header line. */
  def headerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (path.exists("{}[]*?\\".contains(_)) || !fs.exists(root)) return None
    val status = fs.getFileStatus(root)
    val files = if (!status.isDirectory) Seq(status)
      else fs.listStatus(root).toSeq.filterNot(f => GraftSqlBridge.hiddenFileName(f.getPath.getName))
    val codecs = new CompressionCodecFactory(conf)
    if (files.exists(f => f.isDirectory || codecs.getCodec(f.getPath) != null)) return None
    files.map(_.getLen).filter(_ > 0).sorted.reverse match {
      case Seq() => None
      case Seq(a, b, _*) if a == b || b >= GraftSqlBridge.filesOpenCostInBytes(spark) => None
      case largest +: _ =>
        val in = new BufferedReader(new InputStreamReader(
          fs.open(files.find(_.getLen == largest).get.getPath), StandardCharsets.UTF_8))
        try {
          // the line reader Spark scans with drops a leading UTF-8 BOM
          val lines = Iterator.continually(in.readLine()).takeWhile(_ != null)
            .zipWithIndex.map { case (l, i) => if (i == 0) l.stripPrefix("\uFEFF") else l }
          GraftSqlBridge.csvHeaderSchema(spark, lines, CsvOptions)
        } finally in.close()
    }
  }

  /** S6 + melt: wide CSV → canonical long bar table. */
  def readLong(spark: SparkSession, path: String): DataFrame =
    Alignment.wideToLong(readWideCsv(spark, path))

  /** S5: write the wide frame back in the reference's CSV shape (single
    * file, "None" for nulls). Engine-canonical sink stays parquet. */
  def writeWideCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite")
      .option("header", "true")
      .option("nullValue", "None")
      .csv(path)

  /** Canonical long-table sink: parquet partitioned by series key, so a
    * per-symbol read at any scale is a partition-pruned scan (ScaleSpec
    * proves PartitionFilters reach the scan), and each symbol's files can
    * be compacted/lifecycled independently. */
  def writePartitioned(df: DataFrame, path: String,
      partitionCol: String = "symbol"): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** ORC interop (warehouses that standardize on ORC): same long table,
    * same pushdown/pruning behavior as parquet under Spark's native ORC
    * reader. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** JSON-lines interop (event feeds / data-exchange dumps): one JSON
    * object per row. Schema-on-read stays explicit at the call site —
    * pass the long-table schema to avoid an inference scan at scale. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def readJsonl(spark: SparkSession, path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(s => r.schema(s)).json(path)
  }
}
