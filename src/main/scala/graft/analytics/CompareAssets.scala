package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, TypedColumn}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

/** X3: the reference's compare_two_assets façade
  * (similarity.py:440-530).
  *
  * Semantics are those of an inner join of the two series on date:
  *  - a date aligns when both series have a row at it whose close is
  *    non-null and > 0 (Spark's ordering, so NaN counts as > 0); null
  *    dates never align;
  *  - aligned dates are taken in the date column's native order;
  *  - a date that repeats within one series and aligns is an error, as
  *    the join would pair its rows in no defined order;
  *  - technical log returns over consecutive aligned dates feed
  *    euclidean, the two-pass Pearson, cosine and banded DTW; fewer than
  *    2 aligned dates give [[Zero]] (similarity.py:503-512).
  *
  * Cost: one scan of the pair's (date, close) rows. A pair of fewer than
  * `2·collectLimit + 2` valid rows is collected and [[kernel]] runs on
  * the driver; a larger pair runs the same kernel inside
  * [[PairSimilarityAggregator]] on the final aggregate task, and the
  * driver receives only the result. The kernel's answer does not depend
  * on row order, so the two placements agree bit for bit on every field.
  */
object CompareAssets {

  case class SimilarityResult(euclidean: Double, pearson: Double, dtw: Double,
    cosine: Double, n_points: Long)

  val Zero: SimilarityResult = SimilarityResult(0.0, 0.0, 0.0, 0.0, 0L)

  /** One valid row of the pair: (in series A, in series B, date, close).
    * A row is in both series when the two keys are equal. */
  type PairRow[D] = (Boolean, Boolean, D, Double)

  /** Spark's binary string order (UTF-8 bytes), which differs from
    * `String.compareTo` above the surrogate range. */
  val binaryStringOrder: Ordering[String] = new Ordering[String] {
    def compare(x: String, y: String): Int =
      UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
  }

  /** `bars`: long table with (dateCol, keyCol, valueCol). The date
    * column is an integral, date, timestamp or string column. */
  def compare(bars: DataFrame, keyA: String, keyB: String,
      keyCol: String = "symbol", dateCol: String = "date",
      valueCol: String = "close", collectLimit: Long = 4096L): SimilarityResult = {
    val v = col(valueCol)
    val pair = bars
      .filter(col(keyCol).isin(keyA, keyB) && col(dateCol).isNotNull &&
        v.isNotNull && v > 0)
    def rows(date: Column): DataFrame = pair.select((col(keyCol) === keyA).as("in_a"),
      (col(keyCol) === keyB).as("in_b"), date.as("d"), v.cast(DoubleType).as("v"))
    bars.schema(dateCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        run[Long](rows(col(dateCol).cast(LongType)), collectLimit)
      case DateType => run[Long](rows(unix_date(col(dateCol)).cast(LongType)), collectLimit)
      case TimestampType => run[Long](rows(unix_micros(col(dateCol))), collectLimit)
      case StringType => run[String](rows(col(dateCol)), collectLimit)(
        implicitly, binaryStringOrder)
      case t => throw new IllegalArgumentException(
        s"compare: date column $dateCol has unsupported type $t")
    }
  }

  private def run[D: TypeTag: Ordering](rows: DataFrame, collectLimit: Long): SimilarityResult = {
    val typed: Dataset[PairRow[D]] = rows.as(ExpressionEncoder[PairRow[D]]())
    val cap = if (collectLimit >= Int.MaxValue / 2) Int.MaxValue else (2 * collectLimit + 2).toInt
    val head = typed.limit(cap).collect()
    if (head.length < cap) kernel(head)
    else typed.select(PairSimilarityAggregator.column[D]).head()
  }

  /** The whole computation over the pair's valid rows, in any order. */
  def kernel[D](rows: Iterable[PairRow[D]])(implicit ord: Ordering[D]): SimilarityResult = {
    val a = mutable.HashMap.empty[D, Double]
    val b = mutable.HashMap.empty[D, Double]
    val repeated = mutable.HashSet.empty[D]
    rows.foreach { case (inA, inB, d, v) =>
      if (inA && a.put(d, v).isDefined) repeated += d
      if (inB && b.put(d, v).isDefined) repeated += d
    }
    val dates = a.keys.filter(b.contains).toVector.sorted
    dates.find(repeated).foreach(d => throw new IllegalArgumentException(
      s"compare: date $d repeats within one series of the pair"))
    val n = dates.length - 1
    if (n < 1) return Zero
    // Spark's log is StrictMath.log; aligned closes are > 0, so the
    // ratio branch of the technical return (technical.py:151-153) is
    // the only one taken.
    val ra = Array.tabulate(n)(i => StrictMath.log(a(dates(i + 1)) / a(dates(i))))
    val rb = Array.tabulate(n)(i => StrictMath.log(b(dates(i + 1)) / b(dates(i))))
    var sq = 0.0
    var dot = 0.0
    var aa = 0.0
    var bb = 0.0
    var i = 0
    while (i < n) {
      val d = ra(i) - rb(i)
      sq += d * d; dot += ra(i) * rb(i); aa += ra(i) * ra(i); bb += rb(i) * rb(i)
      i += 1
    }
    val normA = math.sqrt(aa)
    val normB = math.sqrt(bb)
    SimilarityResult(
      euclidean = math.sqrt(sq),
      pearson = Similarity.pearsonKernel(ra, rb),
      dtw = Dtw.distance(ra, rb),
      cosine = if (normA == 0.0 || normB == 0.0) 0.0 else dot / (normA * normB),
      n_points = n)
  }
}

/** [[CompareAssets.kernel]] as a typed `Aggregator`, for pairs too long
  * to collect. Rows arrive in any order on any partitioning: buffers
  * concatenate under `merge` and `finish` runs the kernel in the final
  * aggregate task. Memory is one pair's rows on one executor. Grouped by
  * a pair key (`groupByKey(...).agg(column[D])`), pairs aggregate in
  * parallel.
  */
class PairSimilarityAggregator[D](rowsEncoder: Encoder[Vector[CompareAssets.PairRow[D]]])(
    implicit ord: Ordering[D])
    extends Aggregator[CompareAssets.PairRow[D], Vector[CompareAssets.PairRow[D]],
      CompareAssets.SimilarityResult] {
  import CompareAssets.{PairRow, SimilarityResult}

  override def zero: Vector[PairRow[D]] = Vector.empty
  override def reduce(buf: Vector[PairRow[D]], x: PairRow[D]): Vector[PairRow[D]] = buf :+ x
  override def merge(x: Vector[PairRow[D]], y: Vector[PairRow[D]]): Vector[PairRow[D]] = x ++ y
  override def finish(buf: Vector[PairRow[D]]): SimilarityResult = CompareAssets.kernel(buf)
  override def bufferEncoder: Encoder[Vector[PairRow[D]]] = rowsEncoder
  override def outputEncoder: Encoder[SimilarityResult] = Encoders.product[SimilarityResult]
}

object PairSimilarityAggregator {
  def column[D: TypeTag: Ordering]: TypedColumn[CompareAssets.PairRow[D], CompareAssets.SimilarityResult] =
    new PairSimilarityAggregator[D](ExpressionEncoder[Vector[CompareAssets.PairRow[D]]]())
      .toColumn.name("similarity")
}
