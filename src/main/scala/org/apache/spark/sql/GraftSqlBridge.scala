package org.apache.spark.sql

import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.util.HadoopFSUtils

/** Bridge into `private[sql]` internals: the Column ⇄ Expression
  * converters (Spark 4's api Column wraps a ColumnNode), so graft's
  * custom Catalyst expressions can be used as Columns, the Dataset
  * constructor, so graft's logical operators (`PrefixPass`) can be
  * wrapped in a DataFrame, and the CSV
  * source's header rules, so `BarsIO` can read a header exactly as
  * inference does without a job. The one-file-in-spark's-namespace shim
  * is the standard technique for out-of-tree extensions. */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The all-string schema the CSV source infers (header on, no type
    * inference) when `lines` are the lines of the file it reads the
    * header from: the first line that is neither empty nor a comment,
    * parsed and made safe (empty, null-text and duplicate names renamed)
    * by Spark's own CSV code. None when no line holds a header. */
  def csvHeaderSchema(spark: SparkSession, lines: Iterator[String],
      options: Map[String, String]): Option[StructType] = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    val parsed = new CSVOptions(options, conf.csvColumnPruning, conf.sessionLocalTimeZone)
    val parser = new com.univocity.parsers.csv.CsvParser(parsed.asParserSettings)
    CSVUtils.filterCommentAndEmpty(lines, parsed).take(1).toSeq.headOption
      .flatMap(line => Option(parser.parseLine(line)))
      .map(row => StructType(CSVUtils.makeSafeHeader(row, conf.caseSensitiveAnalysis, parsed)
        .map(StructField(_, StringType)).toSeq))
  }

  /** File names a file-source scan skips when it lists a directory. */
  def hiddenFileName(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** `spark.sql.files.openCostInBytes`: no file smaller than this is
    * split across scan partitions. */
  def filesOpenCostInBytes(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.filesOpenCostInBytes
}
