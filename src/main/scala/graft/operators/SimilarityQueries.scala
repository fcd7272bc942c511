package graft.operators

import graft.Graft
import graft.Graft.Q
import graft.analytics.{Dtw, Similarity}
import graft.ta.Technical
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pairwise-similarity queries over per-user log-return series from
  * `events` (SURVEY.md §2.4 A9-A13, §2.9 X1/X3). Pair (1, 2) plays the
  * reference's (VOO, SPY); the heatmap runs over users 0-19 like the
  * reference's 20-symbol matrix. */
object SimilarityQueries {

  private val keys = Seq("user_id")
  private def order: Seq[Column] = Seq(col("ts"), col("event_id"))

  /** Per-user strict log returns with positional index, users < `maxUser`. */
  private def rets(s: SparkSession, dir: String, maxUser: Int): DataFrame =
    Similarity.withPos(
      Graft.events(s, dir)
        .filter(col("user_id") < maxUser)
        .withColumn("ret", Technical.logReturnStrict(col("value"), keys, order))
        .filter(col("ret").isNotNull),
      keys, order)
      .select(col("user_id"), col("pos"), col("ret").as("v"))

  private def retsCte(maxUser: Int): String =
    s"""WITH r AS (
       |  SELECT user_id, event_id, ts, value,
       |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       |  FROM events WHERE user_id < $maxUser),
       |rets AS (
       |  SELECT user_id,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
       |    LN(value / prev) AS v
       |  FROM r WHERE prev IS NOT NULL AND prev > 0 AND value > 0)""".stripMargin

  /** A9: Pearson correlation of one aligned pair. */
  val a9CorrPair: Q = (s, dir) =>
    Similarity.alignPair(
      Graft.events(s, dir)
        .withColumn("ret", Technical.logReturnStrict(col("value"), keys, order))
        .filter(col("ret").isNotNull),
      keys, order, col("ret"), 1, 2)
      .agg(round(coalesce(corr(col("a"), col("b")), lit(0.0)), 6).as("pearson"))

  val a9CorrPairSql: String = retsCte(maxUser = 3) +
    """
      |SELECT ROUND(COALESCE(corr(a.v, b.v), 0.0), 6) AS pearson
      |FROM rets a JOIN rets b ON a.pos = b.pos
      |WHERE a.user_id = 1 AND b.user_id = 2""".stripMargin

  /** X3/A11-A13: full similarity façade for one pair — euclidean, pearson,
    * cosine + decomposition, n_points (compare_two_assets,
    * similarity.py:440-530). */
  val x3SimilarityPair: Q = (s, dir) => {
    val aligned = Similarity.alignPair(
      Graft.events(s, dir)
        .withColumn("ret", Technical.logReturnStrict(col("value"), keys, order))
        .filter(col("ret").isNotNull),
      keys, order, col("ret"), 1, 2)
    Similarity.metrics(aligned)
      .select(
        round(col("pearson"), 6).as("pearson"),
        round(col("euclidean"), 6).as("euclidean"),
        round(col("cosine"), 6).as("cosine"),
        round(col("dot"), 6).as("dot"),
        round(col("norm_a"), 6).as("norm_a"),
        round(col("norm_b"), 6).as("norm_b"),
        col("n_points"))
  }

  val x3SimilarityPairSql: String = retsCte(maxUser = 3) +
    """
      |SELECT ROUND(COALESCE(corr(a.v, b.v), 0.0), 6) AS pearson,
      |  ROUND(SQRT(SUM((a.v - b.v) * (a.v - b.v))), 6) AS euclidean,
      |  ROUND(CASE WHEN SUM(a.v * a.v) = 0 OR SUM(b.v * b.v) = 0 THEN 0.0
      |        ELSE SUM(a.v * b.v) / (SQRT(SUM(a.v * a.v)) * SQRT(SUM(b.v * b.v)))
      |        END, 6) AS cosine,
      |  ROUND(SUM(a.v * b.v), 6) AS dot,
      |  ROUND(SQRT(SUM(a.v * a.v)), 6) AS norm_a,
      |  ROUND(SQRT(SUM(b.v * b.v)), 6) AS norm_b,
      |  COUNT(*) AS n_points
      |FROM rets a JOIN rets b ON a.pos = b.pos
      |WHERE a.user_id = 1 AND b.user_id = 2""".stripMargin

  /** A10: 20×20 Pearson heatmap with symmetry pruning + mirrored output:
    * `Similarity.heatmap`, the dashboard's `pairCorrelations` triangle
    * plus its mirror. */
  val a10Heatmap: Q = (s, dir) =>
    Similarity.heatmap(rets(s, dir, maxUser = 20), "user_id")
      .select(col("ka"), col("kb"), round(col("corr"), 6).as("pearson"))
      .orderBy("ka", "kb")

  val a10HeatmapSql: String = retsCte(maxUser = 20) +
    """,
      |pairs AS (
      |  SELECT a.user_id AS ka, b.user_id AS kb,
      |    ROUND(COALESCE(corr(a.v, b.v), 0.0), 6) AS pearson
      |  FROM rets a JOIN rets b ON a.pos = b.pos
      |  WHERE a.user_id < b.user_id
      |  GROUP BY a.user_id, b.user_id)
      |SELECT ka, kb, pearson FROM pairs
      |UNION ALL SELECT kb AS ka, ka AS kb, pearson FROM pairs
      |UNION ALL SELECT DISTINCT user_id AS ka, user_id AS kb, 1.0 AS pearson FROM rets
      |ORDER BY ka, kb""".stripMargin

  /** A11: covariance matrix over log returns (the σ input of portfolio
    * optimization) — same symmetry-pruned pair shape as the A10 heatmap
    * with covar_samp, diagonal = per-series variance via ka = kb. */
  val a11CovMatrix: Q = (s, dir) => {
    val posed = rets(s, dir, maxUser = 20)
    val a = posed.select(col("user_id").as("ka"), col("pos"), col("v").as("va"))
    val b = posed.select(col("user_id").as("kb"), col("pos"), col("v").as("vb"))
    val upper = a.join(b, "pos").filter(col("ka") <= col("kb"))
      .groupBy("ka", "kb")
      .agg(round(coalesce(covar_samp(col("va"), col("vb")), lit(0.0)), 9).as("cov"))
      .transform(Graft.materialize)
    upper.unionByName(
        upper.filter(col("ka") < col("kb"))
          .select(col("kb").as("ka"), col("ka").as("kb"), col("cov")))
      .orderBy("ka", "kb")
  }

  val a11CovMatrixSql: String = retsCte(maxUser = 20) +
    """,
      |pairs AS (
      |  SELECT a.user_id AS ka, b.user_id AS kb,
      |    ROUND(COALESCE(covar_samp(a.v, b.v), 0.0), 9) AS cov
      |  FROM rets a JOIN rets b ON a.pos = b.pos
      |  WHERE a.user_id <= b.user_id
      |  GROUP BY a.user_id, b.user_id)
      |SELECT ka, kb, cov FROM pairs
      |UNION ALL SELECT kb AS ka, ka AS kb, cov FROM pairs WHERE ka < kb
      |ORDER BY ka, kb""".stripMargin

  /** X1: banded DTW distance for every pair among users 0-9. Series are
    * collected per pair via a grouped array build, pairs fan out as tasks.
    * Oracle: the DP runs as a wavefront over anti-diagonals in a DuckDB
    * recursive CTE (see x1DtwPairsSql); the kernel is additionally
    * verified against reference fixtures in DtwSpec. */
  val x1DtwPairs: Q = (s, dir) => {
    import s.implicits._
    val arrs = rets(s, dir, maxUser = 10)
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("pts"))
      .select(col("user_id"), col("pts.v").as("series"))
    // Distributed pair fan-out: k series → k(k-1)/2 DTW tasks on executors
    // (never collected to the driver). broadcast() because the array side is
    // small (k rows of series); the DP kernel dominates, not the join.
    val a = arrs.select(col("user_id").as("_1"), col("series").as("_2"))
    val b = arrs.select(col("user_id").as("_3"), col("series").as("_4"))
    a.crossJoin(broadcast(b)).filter(col("_1") < col("_3"))
      .as[(Long, Seq[Double], Long, Seq[Double])]
      .map { case (ia, va, ib, vb) => (ia, ib, Dtw.distance(va.toArray, vb.toArray)) }
      .toDF("user_a", "user_b", "dtw")
      .select(col("user_a"), col("user_b"), round(col("dtw"), 6).as("dtw"))
      .orderBy("user_a", "user_b")
  }

  /** Oracle for X1: banded DTW as a recursive-CTE wavefront.
    *
    * The DP cell D[i][j] = |a_i−b_j| + min(D[i−1][j], D[i][j−1],
    * D[i−1][j−1]) advances one anti-diagonal (d = i+j) per recursion
    * step, so each step only needs the two previous diagonals. The
    * working set carries them as: "real" rows (kind 0) for diagonal d,
    * plus one-shot "ghost" re-emissions (kind 1) of diagonal d−1 — the
    * ghost supplies the D[i−1][j−1] candidate that would otherwise be
    * lost when the band clips cell (i, j−1); ghosts never re-emit, so
    * the recursion terminates at d = n+m−2. Candidate generation,
    * grouping, and the band predicate |i−j| ≤ w (w = max(10,
    * max(n,m)/4, |n−m|), matching analytics.Dtw.distance) reproduce the
    * kernel's clipping exactly; additions happen in the same per-cell
    * order, so values are bit-comparable after round 6. */
  val x1DtwPairsSql: String = retsCte(maxUser = 10).replace("WITH ", "WITH RECURSIVE ") +
    """,
      |av AS (SELECT user_id, pos - 1 AS i, v FROM rets),
      |len AS (SELECT user_id, COUNT(*) AS n FROM rets GROUP BY user_id),
      |pairs AS (
      |  SELECT a.user_id AS ua, b.user_id AS ub, a.n AS n, b.n AS m,
      |    GREATEST(10, GREATEST(a.n, b.n) // 4, ABS(a.n - b.n)) AS w
      |  FROM len a JOIN len b ON a.user_id < b.user_id),
      |dp(ua, ub, n, m, w, kind, d, i, val) AS (
      |  SELECT p.ua, p.ub, p.n, p.m, p.w, 0, 0, 0, ABS(a.v - b.v)
      |  FROM pairs p
      |  JOIN av a ON a.user_id = p.ua AND a.i = 0
      |  JOIN av b ON b.user_id = p.ub AND b.i = 0
      |  UNION ALL
      |  (
      |    SELECT s.ua, s.ub, s.n, s.m, s.w, 0, s.d, s.i2,
      |      ABS(a.v - b.v) + s.cand
      |    FROM (
      |      SELECT ua, ub, n, m, w, d + 1 + kind AS d, i + delta AS i2,
      |        MIN(val) AS cand
      |      FROM dp, (VALUES (0, 0), (0, 1), (1, 1)) g(k, delta)
      |      WHERE kind = g.k AND d + 1 + kind <= n + m - 2
      |      GROUP BY ua, ub, n, m, w, d + 1 + kind, i + delta
      |    ) s
      |    JOIN av a ON a.user_id = s.ua AND a.i = s.i2
      |    JOIN av b ON b.user_id = s.ub AND b.i = s.d - s.i2
      |    WHERE s.d - s.i2 BETWEEN 0 AND s.m - 1
      |      AND s.i2 BETWEEN 0 AND s.n - 1
      |      AND ABS(s.i2 - (s.d - s.i2)) <= s.w
      |    UNION ALL
      |    SELECT ua, ub, n, m, w, 1, d, i, val
      |    FROM dp WHERE kind = 0 AND d + 2 <= n + m - 2
      |  ))
      |SELECT ua AS user_a, ub AS user_b, ROUND(val, 6) AS dtw
      |FROM dp WHERE kind = 0 AND d = n + m - 2 AND i = n - 1
      |ORDER BY user_a, user_b""".stripMargin

  /** X2: full-matrix DTW with the optimal warping path for every pair
    * among users 0-3 (similarity.py:536-608): one row per path step
    * (step, i, j) plus the pair's total distance. Path ties resolve
    * diagonal > up > left under strict '<' — deterministic, so the
    * oracle can replay the backtrack cell-for-cell. */
  val x2DtwPath: Q = (s, dir) => {
    import s.implicits._
    val arrs = rets(s, dir, maxUser = 4)
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("pts"))
      .select(col("user_id"), col("pts.v").as("series"))
    val a = arrs.select(col("user_id").as("_1"), col("series").as("_2"))
    val b = arrs.select(col("user_id").as("_3"), col("series").as("_4"))
    a.crossJoin(broadcast(b)).filter(col("_1") < col("_3"))
      .as[(Long, Seq[Double], Long, Seq[Double])]
      .flatMap { case (ia, va, ib, vb) =>
        val (dist, path) = Dtw.distanceWithPath(va.toArray, vb.toArray)
        path.zipWithIndex.map { case ((i, j), step) =>
          (ia, ib, step.toLong, i.toLong, j.toLong, dist) }
      }
      .toDF("user_a", "user_b", "step", "i", "j", "dtw")
      .select(col("user_a"), col("user_b"), col("step"), col("i"), col("j"),
        round(col("dtw"), 6).as("dtw"))
      .orderBy("user_a", "user_b", "step")
  }

  /** Oracle for X2: the x1 wavefront with the band disabled
    * (w = max(n, m) never clips) keeps EVERY cell of the full DP matrix,
    * then a second recursive CTE backtracks from (n−1, m−1) using the
    * kernel's exact tie order: choose left only when strictly smaller
    * than min(diag, up), else up only when strictly smaller than diag,
    * else diag. Additions happen in the same per-cell order as the
    * kernel, so the '<' comparisons see bit-identical doubles. `cells`
    * is MATERIALIZED — without the hint the backtrack recursion
    * re-derives the whole wavefront per step (measured 370 s → 2.5 s).
    * Steps renumber forward (0 at (0,0)) to match the kernel's reversed
    * path. */
  val x2DtwPathSql: String = retsCte(maxUser = 4).replace("WITH ", "WITH RECURSIVE ") +
    """,
      |av AS (SELECT user_id, pos - 1 AS i, v FROM rets),
      |len AS (SELECT user_id, COUNT(*) AS n FROM rets GROUP BY user_id),
      |pairs AS (
      |  SELECT a.user_id AS ua, b.user_id AS ub, a.n AS n, b.n AS m,
      |    GREATEST(a.n, b.n) AS w
      |  FROM len a JOIN len b ON a.user_id < b.user_id),
      |dp(ua, ub, n, m, w, kind, d, i, val) AS (
      |  SELECT p.ua, p.ub, p.n, p.m, p.w, 0, 0, 0, ABS(a.v - b.v)
      |  FROM pairs p
      |  JOIN av a ON a.user_id = p.ua AND a.i = 0
      |  JOIN av b ON b.user_id = p.ub AND b.i = 0
      |  UNION ALL
      |  (
      |    SELECT s.ua, s.ub, s.n, s.m, s.w, 0, s.d, s.i2,
      |      ABS(a.v - b.v) + s.cand
      |    FROM (
      |      SELECT ua, ub, n, m, w, d + 1 + kind AS d, i + delta AS i2,
      |        MIN(val) AS cand
      |      FROM dp, (VALUES (0, 0), (0, 1), (1, 1)) g(k, delta)
      |      WHERE kind = g.k AND d + 1 + kind <= n + m - 2
      |      GROUP BY ua, ub, n, m, w, d + 1 + kind, i + delta
      |    ) s
      |    JOIN av a ON a.user_id = s.ua AND a.i = s.i2
      |    JOIN av b ON b.user_id = s.ub AND b.i = s.d - s.i2
      |    WHERE s.d - s.i2 BETWEEN 0 AND s.m - 1
      |      AND s.i2 BETWEEN 0 AND s.n - 1
      |      AND ABS(s.i2 - (s.d - s.i2)) <= s.w
      |    UNION ALL
      |    SELECT ua, ub, n, m, w, 1, d, i, val
      |    FROM dp WHERE kind = 0 AND d + 2 <= n + m - 2
      |  )),
      |cells AS MATERIALIZED (SELECT ua, ub, i, d - i AS j, val FROM dp WHERE kind = 0),
      |bt(ua, ub, step, i, j) AS (
      |  SELECT ua, ub, 0, n - 1, m - 1 FROM pairs
      |  UNION ALL
      |  SELECT bt.ua, bt.ub, bt.step + 1,
      |    CASE WHEN bt.i = 0 THEN 0
      |         WHEN bt.j = 0 THEN bt.i - 1
      |         WHEN dl.val < (CASE WHEN du.val < dd.val THEN du.val ELSE dd.val END) THEN bt.i
      |         ELSE bt.i - 1 END,
      |    CASE WHEN bt.i = 0 THEN bt.j - 1
      |         WHEN bt.j = 0 THEN bt.j
      |         WHEN dl.val < (CASE WHEN du.val < dd.val THEN du.val ELSE dd.val END) THEN bt.j - 1
      |         WHEN du.val < dd.val THEN bt.j
      |         ELSE bt.j - 1 END
      |  FROM bt
      |  LEFT JOIN cells dd ON dd.ua = bt.ua AND dd.ub = bt.ub AND dd.i = bt.i - 1 AND dd.j = bt.j - 1
      |  LEFT JOIN cells du ON du.ua = bt.ua AND du.ub = bt.ub AND du.i = bt.i - 1 AND du.j = bt.j
      |  LEFT JOIN cells dl ON dl.ua = bt.ua AND dl.ub = bt.ub AND dl.i = bt.i AND dl.j = bt.j - 1
      |  WHERE bt.i > 0 OR bt.j > 0),
      |tot AS (SELECT ua, ub, ROUND(val, 6) AS dtw FROM dp
      |        WHERE kind = 0 AND d = n + m - 2 AND i = n - 1)
      |SELECT b.ua AS user_a, b.ub AS user_b,
      |  CAST(MAX(b.step) OVER (PARTITION BY b.ua, b.ub) - b.step AS BIGINT) AS step,
      |  CAST(b.i AS BIGINT) AS i, CAST(b.j AS BIGINT) AS j, t.dtw
      |FROM bt b JOIN tot t ON t.ua = b.ua AND t.ub = b.ub
      |ORDER BY user_a, user_b, step""".stripMargin

  /** X7: PAA + SAX symbolic representation — each series z-normalized,
    * compressed to 8 Piecewise-Aggregate-Approximation segment means,
    * each mapped to a 4-letter SAX symbol at the standard N(0,1)
    * quartile breakpoints (±0.6745, 0). The Lin/Keogh representation
    * that makes massive-scale series indexable (SAX words bucket-join
    * like MinHash bands).
    *
    * Determinism: the moments accumulate as exact DECIMAL sums, the
    * variance is ONE identical IEEE chain on those exact scalars,
    * z-values snap to the 1e-9 grid, PAA means are decimal-exact, and
    * symbols cut on the ROUNDED mean — so the breakpoint comparisons
    * can never disagree across engines. One window + two keyed
    * aggregations, no joins beyond the k-row stats broadcast. */
  val x7Sax: Q = (s, dir) => {
    val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ev = Graft.events(s, dir)
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("user_id")))
    val stats = ev.groupBy("user_id").agg(
        sum(col("value").cast("decimal(28,10)")).as("sx"),
        sum((col("value") * col("value")).cast("decimal(38,12)")).as("sxx"),
        count(lit(1)).as("cnt"))
      .select(col("user_id"),
        (col("sx").cast("double") / col("cnt")).as("mean"),
        sqrt(greatest(
          (col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double") / col("cnt")) /
            (col("cnt") - 1), lit(0.0))).as("std"))
      .filter(col("std") > 0)
    val z = ev.join(broadcast(stats), "user_id")
      .select(col("user_id"),
        expr("((rn - 1) * 8) div n").as("seg"),
        (floor((col("value") - col("mean")) / col("std") * lit(1e9) + lit(0.5)) / lit(1e9)).as("z"))
    z.groupBy("user_id", "seg")
      .agg(round(sum(col("z").cast("decimal(28,12)")).cast("double") / count(lit(1)), 6).as("paa"),
        count(lit(1)).as("seg_len"))
      .withColumn("sym",
        when(col("paa") < -0.6745, "a").when(col("paa") < 0, "b")
          .when(col("paa") < 0.6745, "c").otherwise("d"))
      .select("user_id", "seg", "paa", "sym", "seg_len")
      .orderBy("user_id", "seg")
  }

  val x7SaxSql: String =
    """WITH o AS (
      |  SELECT user_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM events),
      |st AS (
      |  SELECT user_id,
      |    CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sxd,
      |    CAST(SUM(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS sxxd,
      |    COUNT(*) AS cnt
      |  FROM o GROUP BY user_id),
      |m AS (
      |  SELECT user_id, sxd / cnt AS mean,
      |    sqrt(GREATEST((sxxd - sxd * sxd / cnt) / (cnt - 1), 0.0)) AS std
      |  FROM st),
      |z AS (
      |  SELECT o.user_id, ((o.rn - 1) * 8) // o.n AS seg,
      |    FLOOR((o.value - m.mean) / m.std * 1e9 + 0.5) / 1e9 AS z
      |  FROM o JOIN m USING (user_id) WHERE m.std > 0),
      |p AS (
      |  SELECT user_id, seg,
      |    ROUND(CAST(SUM(CAST(z AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) AS paa,
      |    COUNT(*) AS seg_len
      |  FROM z GROUP BY 1, 2)
      |SELECT user_id, CAST(seg AS BIGINT) AS seg, paa,
      |  CASE WHEN paa < -0.6745 THEN 'a' WHEN paa < 0 THEN 'b'
      |       WHEN paa < 0.6745 THEN 'c' ELSE 'd' END AS sym,
      |  seg_len
      |FROM p ORDER BY user_id, seg""".stripMargin

  def queries: Map[String, Q] = Map(
    "a9_corr_pair" -> a9CorrPair,
    "a10_heatmap" -> a10Heatmap,
    "a11_cov_matrix" -> a11CovMatrix,
    "x3_similarity_pair" -> x3SimilarityPair,
    "x1_dtw_pairs" -> x1DtwPairs,
    "x2_dtw_path" -> x2DtwPath,
    "x7_sax" -> x7Sax,
  )

  def oracle: Map[String, String] = Map(
    "a9_corr_pair" -> a9CorrPairSql,
    "x7_sax" -> x7SaxSql,
    "a10_heatmap" -> a10HeatmapSql,
    "a11_cov_matrix" -> a11CovMatrixSql,
    "x3_similarity_pair" -> x3SimilarityPairSql,
    "x1_dtw_pairs" -> x1DtwPairsSql,
    "x2_dtw_path" -> x2DtwPathSql,
  )
}
