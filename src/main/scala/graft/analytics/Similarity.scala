package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pairwise series similarity (reference algorithms/similarity.py —
  * SURVEY.md §2.4 A9-A13, §2.9 X3).
  *
  * Alignment is positional (row_number within series), matching the
  * reference's zip of calendar-aligned lists; the inner join on position
  * truncates to the common prefix deterministically.
  *
  * Scale: the all-pairs heatmap cannot reduce each series first, so it
  * joins on position and filters the pairs after the join; at k series
  * the fan-out is k²/2 pairs × series length, the same O(k²·n) the
  * reference pays, but distributed. */
object Similarity {

  /** Per-series positional index for alignment. */
  def withPos(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame =
    df.withColumn("pos", row_number().over(
      Window.partitionBy(keys.map(col): _*).orderBy(order: _*)))

  /** A9-A13 in one multi-aggregate pass over an aligned pair frame with
    * columns (a, b): pearson, euclidean, cosine + its decomposition, n.
    * Zero-variance / zero-norm edge cases yield 0.0, not null
    * (similarity.py:166-168, 417-418). */
  def metrics(aligned: DataFrame): DataFrame =
    aligned.agg(
      coalesce(corr(col("a"), col("b")), lit(0.0)).as("pearson"),
      sqrt(sum(pow(col("a") - col("b"), 2))).as("euclidean"),
      sum(col("a") * col("b")).as("dot"),
      sqrt(sum(col("a") * col("a"))).as("norm_a"),
      sqrt(sum(col("b") * col("b"))).as("norm_b"),
      count(lit(1)).as("n_points"))
      .withColumn("cosine",
        when(col("norm_a") === 0.0 || col("norm_b") === 0.0, 0.0)
          .otherwise(col("dot") / (col("norm_a") * col("norm_b"))))

  /** Positional inner-join of two series of a long table (J4). */
  def alignPair(df: DataFrame, keys: Seq[String], order: Seq[Column],
      value: Column, keyA: Any, keyB: Any): DataFrame = {
    val k = keys.head
    val posed = withPos(df.filter(col(k).isin(keyA, keyB)), keys, order)
      .select(col(k), col("pos"), value.as("v"))
    posed.filter(col(k) === keyA).select(col("pos"), col("v").as("a"))
      .join(posed.filter(col(k) === keyB).select(col("pos"), col("v").as("b")), "pos")
  }

  /** Pearson over two equal-indexed arrays (common prefix), two-pass
    * like the reference (similarity.py:100-193); 0.0 on zero variance. */
  def pearsonKernel(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    if (n < 2) return 0.0
    var sa = 0.0
    var sb = 0.0
    var i = 0
    while (i < n) { sa += a(i); sb += b(i); i += 1 }
    val ma = sa / n
    val mb = sb / n
    var cov = 0.0
    var va = 0.0
    var vb = 0.0
    i = 0
    while (i < n) {
      val da = a(i) - ma
      val db = b(i) - mb
      cov += da * db; va += da * da; vb += db * db
      i += 1
    }
    if (va == 0.0 || vb == 0.0) 0.0 else cov / math.sqrt(va * vb)
  }

  /** A10's triangle: one row per pair `ka <= kb` of series keyed by `k`,
    * with the Pearson correlation of their aligned values (0.0 on zero
    * variance, app.py:322-353) and 1.0 on the diagonal. One join and one
    * aggregate: k(k+1)/2 rows, one for each pair of keys with at least one
    * value (null keys have none). Input must already carry (k, pos, v). */
  def pairCorrelations(posed: DataFrame, k: String): DataFrame = {
    val a = posed.select(col(k).as("ka"), col("pos"), col("v").as("va"))
    val b = posed.select(col(k).as("kb"), col("pos"), col("v").as("vb"))
    a.join(b, "pos").filter(col("ka") <= col("kb"))
      .groupBy("ka", "kb")
      .agg(when(col("ka") === col("kb"), lit(1.0))
        .otherwise(coalesce(corr(col("va"), col("vb")), lit(0.0))).as("corr"))
  }

  /** A10: the full k×k matrix in long form (ka, kb, corr): the
    * [[pairCorrelations]] triangle plus its mirror, the reference's
    * symmetry trick. */
  def heatmap(posed: DataFrame, k: String): DataFrame = {
    // the triangle feeds both branches — materialize it once instead of
    // recomputing the join+agg lineage (see Graft.materialize).
    val upper = pairCorrelations(posed, k).transform(graft.Graft.materialize)
    upper.unionByName(upper.filter(col("ka") < col("kb"))
      .select(col("kb").as("ka"), col("ka").as("kb"), col("corr")))
  }
}
