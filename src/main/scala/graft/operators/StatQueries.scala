package graft.operators

import graft.Graft
import graft.Graft.Q
import graft.operators.CoreQueries.q6
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical-monitoring operators: hash-randomized experiment
  * analysis, distribution-drift detection, rolling higher moments, and
  * SAX-word motif discovery. The "is the pipeline's data still
  * healthy / did the change move the metric" layer that runs alongside
  * a production 100 TB pipeline.
  *
  * Scale shapes: A/B lift is two keyed aggregations (user, then arm →
  * one row); PSI is one scan bucketed against a broadcast range + a
  * 10-row spine join; rolling moments are one window per series with
  * constant state; motif discovery shuffles once per series and groups
  * fixed-length words — never a subsequence cross join.
  *
  * Numeric policy per CoreQueries: sums through DECIMAL (exact,
  * order-independent); every derived double is one identical
  * IEEE chain on exact inputs; ln/sqrt agree bit-for-bit between the
  * JVM and DuckDB (established by t17/x7); outputs quantize on the
  * floor(x·1e6+0.5) grid.
  */
object StatQueries {

  /** F7: A/B conversion lift with a two-proportion z-statistic — users
    * deterministically split by md5 parity (the hash-based bucketing
    * every experimentation platform uses: stable, uniform, no RNG
    * state), conversion = more purchases than views (every user in this
    * stream eventually purchases once, so the binary "ever purchased"
    * would saturate at 100% — the ratio metric stays informative at any
    * scale), and the pooled z-score spelled out as one arithmetic
    * chain, null when the pooled variance is zero. Also the template
    * for "holdout vs treated" measurements over data ablations. */
  val f7AbLift: Q = (s, dir) => {
    val users = Graft.table(s, dir, "events")
      .groupBy("user_id")
      .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >
        sum(when(col("event_type") === "view", 1L).otherwise(0L)))
        .cast("long").as("converted"))
      .withColumn("arm",
        conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10).cast("long") % 2)
    users.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 0, col("converted")).otherwise(0L)).as("conv_a"),
        sum(when(col("arm") === 1, col("converted")).otherwise(0L)).as("conv_b"))
      .withColumn("rate_a", col("conv_a").cast("double") / col("n_a"))
      .withColumn("rate_b", col("conv_b").cast("double") / col("n_b"))
      .withColumn("p", (col("conv_a") + col("conv_b")).cast("double") / (col("n_a") + col("n_b")))
      .withColumn("se", sqrt(col("p") * (lit(1.0) - col("p")) *
        (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
      .select(
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        col("conv_a").cast("long").as("conv_a"), col("conv_b").cast("long").as("conv_b"),
        q6(col("rate_a")).as("rate_a"), q6(col("rate_b")).as("rate_b"),
        q6(col("rate_b") - col("rate_a")).as("lift"),
        when(col("se") > 0,
          q6((col("rate_b") - col("rate_a")) / col("se"))).as("z_score"))
  }

  val f7AbLiftSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >
      |         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS converted,
      |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS arm
      |  FROM events GROUP BY user_id),
      |a AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
      |    CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
      |  FROM u),
      |d AS (
      |  SELECT *,
      |    CAST(conv_a AS DOUBLE) / n_a AS rate_a,
      |    CAST(conv_b AS DOUBLE) / n_b AS rate_b,
      |    CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS p
      |  FROM a),
      |e AS (
      |  SELECT *, sqrt(p * (1.0 - p) * (1.0 / n_a + 1.0 / n_b)) AS se FROM d)
      |SELECT n_a, n_b, conv_a, conv_b,
      |  floor(rate_a * 1e6 + 0.5) / 1e6 AS rate_a,
      |  floor(rate_b * 1e6 + 0.5) / 1e6 AS rate_b,
      |  floor((rate_b - rate_a) * 1e6 + 0.5) / 1e6 AS lift,
      |  CASE WHEN se > 0
      |       THEN floor((rate_b - rate_a) / se * 1e6 + 0.5) / 1e6 END AS z_score
      |FROM e""".stripMargin

  /** E6: population-stability index — the drift monitor run between a
    * reference window (orders shipped 1995) and the current data
    * (1996+), over 10 equal-width buckets of o_totalprice spanning the
    * GLOBAL range (f13's bucket math), with +0.5 Laplace smoothing so
    * an empty bucket cannot blow up the log-ratio. Per-bucket
    * contributions emit on a fixed 10-row spine (left join + coalesce),
    * so the row count is layout-independent — the same guard the x6
    * lag spine uses. PSI > 0.2 is the conventional "investigate" line. */
  val e6PsiDrift: Q = (s, dir) => {
    val orders = Graft.table(s, dir, "orders")
      .select(col("o_totalprice").as("x"), year(col("o_orderdate")).as("yr"))
    val range = orders.agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val counts = orders.crossJoin(broadcast(range))
      .withColumn("bucket",
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(lit(9L), floor((col("x") - col("mn")) /
            ((col("mx") - col("mn")) / 10.0)))).cast("long"))
      .groupBy("bucket")
      .agg(sum(when(col("yr") === 1995, 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("yr") > 1995, 1L).otherwise(0L)).as("n_cur"))
    val totals = counts.agg(sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"))
    val spine = (s.range(10)).select(col("id").as("bucket"))
    spine.join(counts, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_ref", "n_cur"))
      .crossJoin(broadcast(totals))
      .withColumn("ref_share",
        (col("n_ref") + lit(0.5)) / (col("t_ref") + lit(5.0)))
      .withColumn("cur_share",
        (col("n_cur") + lit(0.5)) / (col("t_cur") + lit(5.0)))
      .select(col("bucket"), col("n_ref").cast("long").as("n_ref"),
        col("n_cur").cast("long").as("n_cur"),
        q6(col("ref_share")).as("ref_share"),
        q6(col("cur_share")).as("cur_share"),
        q6((col("cur_share") - col("ref_share")) *
          log(col("cur_share") / col("ref_share"))).as("psi_contrib"))
      .orderBy("bucket")
  }

  val e6PsiDriftSql: String =
    """WITH o AS (
      |  SELECT o_totalprice AS x, year(o_orderdate) AS yr FROM orders),
      |r AS (SELECT MIN(x) AS mn, MAX(x) AS mx FROM o),
      |c AS (
      |  SELECT
      |    CAST(CASE WHEN mx = mn THEN 0
      |              ELSE LEAST(9, FLOOR((x - mn) / ((mx - mn) / 10.0)))
      |         END AS BIGINT) AS bucket,
      |    CAST(SUM(CASE WHEN yr = 1995 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
      |    CAST(SUM(CASE WHEN yr > 1995 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
      |  FROM o, r GROUP BY 1),
      |t AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM c),
      |sp AS (SELECT unnest(range(0, 10)) AS bucket),
      |j AS (
      |  SELECT sp.bucket,
      |    COALESCE(c.n_ref, 0) AS n_ref, COALESCE(c.n_cur, 0) AS n_cur
      |  FROM sp LEFT JOIN c USING (bucket)),
      |sh AS (
      |  SELECT bucket, n_ref, n_cur,
      |    (n_ref + 0.5) / (t_ref + 5.0) AS ref_share,
      |    (n_cur + 0.5) / (t_cur + 5.0) AS cur_share
      |  FROM j, t)
      |SELECT CAST(bucket AS BIGINT) AS bucket, n_ref, n_cur,
      |  floor(ref_share * 1e6 + 0.5) / 1e6 AS ref_share,
      |  floor(cur_share * 1e6 + 0.5) / 1e6 AS cur_share,
      |  floor((cur_share - ref_share) * ln(cur_share / ref_share) * 1e6 + 0.5) / 1e6 AS psi_contrib
      |FROM sh ORDER BY bucket""".stripMargin

  /** W13: rolling skewness and excess kurtosis (21-point trailing
    * window) per series — the tail-risk / regime-change monitors next
    * to w12's rolling median. Power sums accumulate as exact LONG
    * arithmetic on cent-scaled values (`c = round(value·100)` — the
    * telemetry stream is 2-decimal by contract, enforced by a loud
    * per-row grid guard rather than a silent quantization): c, c², c³
    * sum directly; c⁴ can exceed a signed long (c=56 021 → 9.8e18), so
    * it is carried as exact base-1e9 digits (hi, lo). To keep every
    * partial product inside a long for the FULL |c| ≤ 7e5 domain, c²
    * (≤ 4.9e11) is first split into base-1e6 digits a·1e6 + b, so
    * c⁴ = a²·1e12 + 2ab·1e6 + b² with each term ≤ ~1e12 before the
    * base-1e9 carry (a direct (c² div 1000)·c² product overflows once
    * |c| > ~3.1e5 — see [[c4Digits]]). The sliding sums are 21 long
    * adds per row — an order
    * of magnitude cheaper than the previous DECIMAL(38,10) frames
    * (sf10 replica: 49 s → the decimal adds were the whole cost) —
    * and order-independent, so the DuckDB oracle matches exactly; the
    * central-moment assembly is a single shared IEEE chain on both
    * engines. Emits null during warm-up and when the window is
    * numerically degenerate (m2 ≤ 1e-9 — also keeps the 1e6 display
    * grid's floor() argument bounded). */
  /** Exact c⁴ as base-1e9 digits (hi4, lo4) from an integer column c2
    * (= c², 0 ≤ c2 ≤ 4.9e11): split c2 = a·1e6 + b, assemble
    * c2² = a²·1e12 + 2ab·1e6 + b² with a base-1e9 carry. Largest
    * intermediate is a²·1000 ≤ 2.4e14 — every step fits a long for
    * |c| ≤ 7e5 (spec'd against BigInt in StatHelperSpec). Appends
    * columns `a4,b4,ab2,bb,t4,hi4,lo4`; callers use hi4/lo4. */
  private[graft] def c4Digits(df: DataFrame): DataFrame = df
    .withColumn("a4", expr("c2 div 1000000"))
    .withColumn("b4", col("c2") % 1000000L)
    .withColumn("ab2", col("a4") * col("b4") * 2L)
    .withColumn("bb", col("b4") * col("b4"))
    .withColumn("t4", (col("ab2") % 1000L) * 1000000L + col("bb") % 1000000000L)
    .withColumn("hi4", col("a4") * col("a4") * 1000L + expr("ab2 div 1000")
      + expr("bb div 1000000000") + expr("t4 div 1000000000"))
    .withColumn("lo4", col("t4") % 1000000000L)

  val w13RollingMoments: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val frame = w.rowsBetween(-20, 0)
    val cRaw = round(col("value") * 100).cast("long")
    val ev = Graft.events(s, dir)
      .withColumn("c",
        when(col("value").isNull, lit(null).cast("long"))
          .when(abs(col("value") * 100 - cRaw) <= lit(1e-6) &&
            cRaw.between(-700000L, 700000L), cRaw)
          .otherwise(raise_error(concat(lit("w13 expects 2-decimal values in [-7000, 7000], got "),
            col("value").cast("string")))))
      .withColumn("c2", col("c") * col("c"))
      .withColumn("c3", col("c2") * col("c"))
      .transform(c4Digits)
      .withColumn("rn", row_number().over(w))
      .withColumn("s1", sum(col("c")).over(frame).cast("double"))
      .withColumn("s2", sum(col("c2")).over(frame).cast("double"))
      .withColumn("s3", sum(col("c3")).over(frame).cast("double"))
      .withColumn("s4", sum(col("hi4")).over(frame).cast("double") * lit(1e9)
        + sum(col("lo4")).over(frame).cast("double"))
      .withColumn("mean", col("s1") / lit(2100.0))
      .withColumn("s2n", col("s2") / lit(210000.0))
      .withColumn("s3n", col("s3") / lit(21000000.0))
      .withColumn("s4n", col("s4") / lit(2100000000.0))
      .withColumn("m2", col("s2n") - col("mean") * col("mean"))
      .withColumn("m3", col("s3n") - lit(3.0) * col("mean") * col("s2n")
        + lit(2.0) * col("mean") * col("mean") * col("mean"))
      .withColumn("m4", col("s4n") - lit(4.0) * col("mean") * col("s3n")
        + lit(6.0) * col("mean") * col("mean") * col("s2n")
        - lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean"))
    ev.select(col("event_id"), col("user_id"),
        when(col("rn") >= 21 && col("m2") > 1e-9,
          q6(col("m3") / (sqrt(col("m2")) * col("m2")))).as("skew"),
        when(col("rn") >= 21 && col("m2") > 1e-9,
          q6(col("m4") / (col("m2") * col("m2")) - lit(3.0))).as("kurtosis"))
      .orderBy("user_id", "event_id")
  }

  val w13RollingMomentsSql: String =
    """WITH p AS (
      |  SELECT event_id, user_id, ts,
      |    CAST(round(value * 100) AS BIGINT) AS c,
      |    row_number() OVER w AS rn
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |d AS (
      |  SELECT *, c * c AS c2, (c * c) * c AS c3 FROM p),
      |e AS (
      |  SELECT *, c2 // 1000000 AS a4, c2 % 1000000 AS b4 FROM d),
      |e2 AS (
      |  SELECT *, 2 * a4 * b4 AS ab2, b4 * b4 AS bb FROM e),
      |f0 AS (
      |  SELECT *, (ab2 % 1000) * 1000000 + bb % 1000000000 AS t4 FROM e2),
      |g AS (
      |  SELECT event_id, user_id, ts, rn, c, c2, c3,
      |    a4 * a4 * 1000 + (ab2 // 1000) + (bb // 1000000000)
      |      + (t4 // 1000000000) AS hi4,
      |    t4 % 1000000000 AS lo4
      |  FROM f0),
      |sums AS (
      |  SELECT event_id, user_id, rn,
      |    CAST(SUM(c) OVER f AS DOUBLE) AS s1,
      |    CAST(SUM(c2) OVER f AS DOUBLE) AS s2,
      |    CAST(SUM(c3) OVER f AS DOUBLE) AS s3,
      |    CAST(SUM(hi4) OVER f AS DOUBLE) * 1e9
      |      + CAST(SUM(lo4) OVER f AS DOUBLE) AS s4
      |  FROM g
      |  WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)),
      |m AS (
      |  SELECT event_id, user_id, rn,
      |    s1 / 2100.0 AS mean, s2 / 210000.0 AS s2n,
      |    s3 / 21000000.0 AS s3n, s4 / 2100000000.0 AS s4n
      |  FROM sums),
      |cm AS (
      |  SELECT event_id, user_id, rn,
      |    s2n - mean * mean AS m2,
      |    s3n - 3.0 * mean * s2n + 2.0 * mean * mean * mean AS m3,
      |    s4n - 4.0 * mean * s3n + 6.0 * mean * mean * s2n
      |      - 3.0 * mean * mean * mean * mean AS m4
      |  FROM m)
      |SELECT event_id, user_id,
      |  CASE WHEN rn >= 21 AND m2 > 1e-9
      |       THEN floor(m3 / (sqrt(m2) * m2) * 1e6 + 0.5) / 1e6 END AS skew,
      |  CASE WHEN rn >= 21 AND m2 > 1e-9
      |       THEN floor((m4 / (m2 * m2) - 3.0) * 1e6 + 0.5) / 1e6 END AS kurtosis
      |FROM cm ORDER BY user_id, event_id""".stripMargin

  /** X8: motif discovery via SAX words — z-normalize each series
    * (x7's exact-stats recipe), give every point a 4-letter symbol,
    * slide a 4-symbol word across the series with 3 lead()s, and
    * count repeats per (series, word). Two windows + one group — the
    * bucketed shape that replaces the O(n²·w) subsequence self-join a
    * naive matrix-profile would do; repeated words ARE the candidate
    * motifs (word length scales with series length: 4 symbols = 256
    * shapes keeps repeats meaningful on hundred-point series). z snaps
    * to the 1e-9 grid before the breakpoint cut, so symbol boundaries
    * cannot disagree across engines. */
  val x8SaxMotifs: Q = (s, dir) => {
    val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ev = Graft.events(s, dir)
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
    val sym = ev.join(broadcast(stats), "user_id")
      .withColumn("z",
        floor((col("value") - col("mean")) / col("std") * lit(1e9) + lit(0.5)) / lit(1e9))
      .withColumn("sym",
        when(col("z") < -0.6745, "a").when(col("z") < 0, "b")
          .when(col("z") < 0.6745, "c").otherwise("d"))
      .withColumn("rn", row_number().over(wOrd))
    val words = sym.withColumn("word",
        concat((0 to 3).map(i =>
          if (i == 0) col("sym") else lead(col("sym"), i).over(wOrd)): _*))
      .filter(col("word").isNotNull)
    words.groupBy("user_id", "word")
      .agg(count(lit(1)).as("n_occ"), min(col("rn")).cast("long").as("first_rn"))
      .filter(col("n_occ") >= 2)
      .orderBy(col("n_occ").desc, col("user_id"), col("word"))
      .limit(50)
  }

  val x8SaxMotifsSql: String =
    """WITH st AS (
      |  SELECT user_id,
      |    CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sxd,
      |    CAST(SUM(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS sxxd,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY user_id),
      |m AS (
      |  SELECT user_id, sxd / cnt AS mean,
      |    sqrt(GREATEST((sxxd - sxd * sxd / cnt) / (cnt - 1), 0.0)) AS std
      |  FROM st),
      |sy AS (
      |  SELECT e.user_id,
      |    CASE WHEN z < -0.6745 THEN 'a' WHEN z < 0 THEN 'b'
      |         WHEN z < 0.6745 THEN 'c' ELSE 'd' END AS sym,
      |    row_number() OVER w AS rn, ts, event_id
      |  FROM (
      |    SELECT e.*,
      |      floor((value - mean) / std * 1e9 + 0.5) / 1e9 AS z
      |    FROM events e JOIN m ON e.user_id = m.user_id WHERE std > 0) e
      |  WINDOW w AS (PARTITION BY e.user_id ORDER BY ts, event_id)),
      |words AS (
      |  SELECT user_id, rn,
      |    sym || lead(sym, 1) OVER w || lead(sym, 2) OVER w || lead(sym, 3) OVER w AS word
      |  FROM sy
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, word, COUNT(*) AS n_occ,
      |  CAST(MIN(rn) AS BIGINT) AS first_rn
      |FROM words WHERE word IS NOT NULL
      |GROUP BY user_id, word HAVING COUNT(*) >= 2
      |ORDER BY n_occ DESC, user_id, word LIMIT 50""".stripMargin

  /** W14: two-sided CUSUM change detection over daily close-to-close
    * returns — s⁺ₜ = max(0, s⁺ₜ₋₁ + rₜ − k), s⁻ₜ = max(0, s⁻ₜ₋₁ − rₜ − k)
    * with slack k = 5e-4, alarm when either side crosses h = 0.05: the
    * classic sequential drift detector a production pipeline runs beside
    * its metrics. The recurrence is not a SQL window frame, so it runs
    * as the EMA-family sorted-group kernel (one shuffle keyed by
    * series and sorted by day, one O(1)-state fold per series —
    * [[graft.ta.Indicators]]); the oracle replays it as a recursive CTE
    * stepping rn → rn+1. Every step is the same IEEE chain on both
    * engines (the max-with-zero is spelled `if (x > 0) x else 0` so a
    * −0.0 can never leak out), so states match bit-for-bit before the
    * final 1e-6 floor-grid — with
    * one defined exception: a ZERO previous close makes the return
    * undefined, and the step resets both sums to 0 (the kernel guards
    * the division; the SQL side gets the same reset for free from
    * NULL division). */
  val w14Cusum: Q = (s, dir) => {
    import s.implicits._
    val k = 5e-4; val h = 0.05
    PatternQueries.dailyBars(s, dir)
      .select(col("user_id").cast("long"), col("day").cast("string"),
        col("close").cast("double"))
      .as[(Long, String, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("day")) { (uid, it) => // ISO days sort chronologically
        var sp = 0.0; var sn = 0.0
        var prev = it.next()._3
        it.map { p =>
          if (prev == 0) {
            // A zero close makes the next return undefined. Raw IEEE
            // division would latch sp at +Infinity (and the alarm at
            // true) for the REST of the series — one bad tick must not
            // permanently poison a monitor. Reset both sums instead,
            // which is also the oracle's NULL-division semantic (DuckDB
            // x/0 = NULL; NULL > 0 is false, so both CASE arms take the
            // ELSE 0 branch). Caught by the sf1 replica gate: sf0.1
            // user 367 closes at 0.00 on 2024-01-16.
            sp = 0.0; sn = 0.0
          } else {
            val ret = p._3 / prev - 1.0
            val xp = sp + ret - k; sp = if (xp > 0) xp else 0.0
            val xn = sn - ret - k; sn = if (xn > 0) xn else 0.0
          }
          prev = p._3
          (uid, p._2, sp, sn, sp > h || sn > h)
        }
      }
      .toDF("user_id", "day", "sp", "sn", "alarm")
      .select(col("user_id"), to_date(col("day")).as("day"),
        q6(col("sp")).as("cusum_pos"), q6(col("sn")).as("cusum_neg"),
        col("alarm"))
      .orderBy("user_id", "day")
  }

  val w14CusumSql: String =
    PatternQueries.barsCte.replace("WITH ", "WITH RECURSIVE ") +
    """,
      |r AS (
      |  SELECT user_id, day, row_number() OVER w AS rn,
      |    close / lag(close) OVER w - 1.0 AS ret
      |  FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY day)),
      |c AS (
      |  SELECT user_id, rn, day,
      |    CAST(0 AS DOUBLE) AS sp, CAST(0 AS DOUBLE) AS sn
      |  FROM r WHERE rn = 1
      |  UNION ALL
      |  SELECT o.user_id, o.rn, o.day,
      |    CASE WHEN p.sp + o.ret - 0.0005 > 0 THEN p.sp + o.ret - 0.0005 ELSE 0 END,
      |    CASE WHEN p.sn - o.ret - 0.0005 > 0 THEN p.sn - o.ret - 0.0005 ELSE 0 END
      |  FROM c p JOIN r o ON o.user_id = p.user_id AND o.rn = p.rn + 1)
      |SELECT user_id, day,
      |  floor(sp * 1e6 + 0.5) / 1e6 AS cusum_pos,
      |  floor(sn * 1e6 + 0.5) / 1e6 AS cusum_neg,
      |  (sp > 0.05 OR sn > 0.05) AS alarm
      |FROM c WHERE rn >= 2 ORDER BY user_id, day""".stripMargin

  /** T35: per-source token-distribution drift — Jensen–Shannon
    * divergence (in bits) of each source's unigram distribution against
    * the corpus-wide distribution: the "which feed changed its language"
    * monitor that complements e6's numeric PSI. Support is the full
    * corpus vocabulary per source (a source-absent term still contributes
    * its q-side mass — dropping those understates drift), built as
    * vocab × source with a left join of per-source counts, never a
    * dense matrix. Probabilities are single divisions of exact integers;
    * each JSD term goes through ln (bit-agreeing cross-engine, t17/x7),
    * snaps to DECIMAL, and sums order-independently; /ln 2 converts to
    * bits at the end. */
  val t35JsdDrift: Q = (s, dir) => {
    val tok = Graft.table(s, dir, "documents")
      .withColumn("term",
        explode(graft.text.QualitySignals.words(col("text"))))
      .filter(col("term") =!= "")
    val bySrc = tok.groupBy("source", "term").agg(count(lit(1)).as("c"))
    val srcTot = bySrc.groupBy("source").agg(sum("c").as("stot"))
    val glob = Graft.materialize(
      bySrc.groupBy("term").agg(sum("c").as("g"))
        .crossJoin(tok.agg(count(lit(1)).as("gtot"))))
    val full = srcTot.crossJoin(glob)
      .join(bySrc, Seq("source", "term"), "left")
      .select(col("source"),
        (coalesce(col("c"), lit(0L)).cast("double") / col("stot")).as("p"),
        (col("g").cast("double") / col("gtot")).as("q"),
        col("c").isNotNull.as("present"))
    full
      .withColumn("term_nats",
        when(col("p") > 0, lit(0.5) * col("p") * log(lit(2.0) * col("p") / (col("p") + col("q"))))
          .otherwise(lit(0.0)) +
        lit(0.5) * col("q") * log(lit(2.0) * col("q") / (col("p") + col("q"))))
      .groupBy("source")
      .agg(sum(when(col("present"), 1L).otherwise(0L)).as("n_terms"),
        sum(col("term_nats").cast("decimal(28,12)")).cast("double").as("nats"))
      .select(col("source"), col("n_terms"),
        q6(col("nats") / log(lit(2.0))).as("jsd_bits"))
      .orderBy("source")
  }

  val t35JsdDriftSql: String =
    """WITH tok AS (
      |  SELECT source,
      |    unnest(regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
      |  FROM documents),
      |bysrc AS (
      |  SELECT source, term, COUNT(*) AS c
      |  FROM tok WHERE term <> '' GROUP BY 1, 2),
      |stot AS (SELECT source, SUM(c) AS stot FROM bysrc GROUP BY source),
      |gdist AS (SELECT term, SUM(c) AS g FROM bysrc GROUP BY term),
      |gtot AS (SELECT SUM(c) AS gtot FROM bysrc),
      |full_t AS (
      |  SELECT st.source,
      |    CAST(COALESCE(b.c, 0) AS DOUBLE) / st.stot AS p,
      |    CAST(gl.g AS DOUBLE) / gt.gtot AS q,
      |    b.c IS NOT NULL AS present
      |  FROM stot st CROSS JOIN gdist gl CROSS JOIN gtot gt
      |  LEFT JOIN bysrc b ON b.source = st.source AND b.term = gl.term),
      |terms AS (
      |  SELECT source, present,
      |    CASE WHEN p > 0 THEN 0.5 * p * ln(2.0 * p / (p + q)) ELSE 0.0 END
      |      + 0.5 * q * ln(2.0 * q / (p + q)) AS term_nats
      |  FROM full_t)
      |SELECT source,
      |  CAST(SUM(CASE WHEN present THEN 1 ELSE 0 END) AS BIGINT) AS n_terms,
      |  floor(CAST(SUM(CAST(term_nats AS DECIMAL(28,12))) AS DOUBLE) / ln(2.0) * 1e6 + 0.5) / 1e6 AS jsd_bits
      |FROM terms GROUP BY source ORDER BY source""".stripMargin

  /** T38: Neyman allocation for stratified sampling — how a fixed
    * sample budget (n=1000) SHOULD split across event-type strata:
    * nₕ ∝ Nₕ·σₕ (big and volatile strata earn more draws), with the
    * fractional shares settled by the largest-remainder method so the
    * integer allocations sum to the budget exactly and deterministically
    * (remainder ties break on the stratum name). σ through the exact
    * decimal power sums (a23's pattern); a singleton stratum (nₕ=1,
    * sample variance 0/0) gets σ=0 deterministically in BOTH engines
    * rather than a NaN that casts differently cross-engine; the
    * weights Nₕ·σₕ quantize to
    * DECIMAL(28,8) before the cross-strata total so the share
    * denominator is order-independent. One stratum aggregation + a
    * ≤|strata|-row window — nothing else touches the table. */
  val t38NeymanAlloc: Q = (s, dir) => {
    val st = Graft.table(s, dir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("nh"),
        sum(col("value").cast("decimal(28,12)")).as("sv"),
        sum((col("value") * col("value")).cast("decimal(28,12)")).as("sv2"))
      .withColumn("variance",
        when(col("nh") > 1,
          (col("sv2").cast("double") -
            col("sv").cast("double") * col("sv").cast("double") / col("nh")) /
            (col("nh") - 1))
          .otherwise(lit(0.0)))
      .withColumn("sigma", sqrt(col("variance")))
      .withColumn("wq", (col("nh") * col("sigma")).cast("decimal(28,8)"))
    val tot = Window.partitionBy()
    val byRem = Window.orderBy(col("frac").desc, col("event_type"))
    st
      .withColumn("wsum", sum(col("wq")).over(tot))
      .withColumn("share",
        lit(1000.0) * col("wq").cast("double") / col("wsum").cast("double"))
      .withColumn("base", floor(col("share")).cast("long"))
      .withColumn("frac", col("share") - col("base"))
      .withColumn("rem", lit(1000L) - sum(col("base")).over(tot))
      .withColumn("rk", row_number().over(byRem))
      .select(col("event_type"), col("nh").cast("long").as("n_rows"),
        q6(col("sigma")).as("sigma"),
        (col("base") + when(col("rk") <= col("rem"), 1L).otherwise(0L))
          .cast("long").as("alloc"))
      .orderBy("event_type")
  }

  val t38NeymanAllocSql: String =
    """WITH st AS (
      |  SELECT event_type, COUNT(*) AS nh,
      |    SUM(CAST(value AS DECIMAL(28,12))) AS sv,
      |    SUM(CAST(value * value AS DECIMAL(28,12))) AS sv2
      |  FROM events GROUP BY event_type),
      |w AS (
      |  SELECT event_type, nh,
      |    CASE WHEN nh > 1 THEN sqrt((CAST(sv2 AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / nh)
      |      / (nh - 1)) ELSE 0.0 END AS sigma,
      |    CAST(nh * (CASE WHEN nh > 1 THEN sqrt((CAST(sv2 AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / nh)
      |      / (nh - 1)) ELSE 0.0 END) AS DECIMAL(28,8)) AS wq
      |  FROM st),
      |sh AS (
      |  SELECT event_type, nh, sigma,
      |    1000.0 * CAST(wq AS DOUBLE) / CAST(SUM(wq) OVER () AS DOUBLE) AS share
      |  FROM w),
      |b AS (
      |  SELECT event_type, nh, sigma, share,
      |    CAST(FLOOR(share) AS BIGINT) AS base,
      |    share - FLOOR(share) AS frac
      |  FROM sh),
      |f AS (
      |  SELECT event_type, nh, sigma, base, frac,
      |    1000 - SUM(base) OVER () AS rem,
      |    row_number() OVER (ORDER BY frac DESC, event_type) AS rk
      |  FROM b)
      |SELECT event_type, CAST(nh AS BIGINT) AS n_rows,
      |  floor(sigma * 1e6 + 0.5) / 1e6 AS sigma,
      |  CAST(base + CASE WHEN rk <= rem THEN 1 ELSE 0 END AS BIGINT) AS alloc
      |FROM f ORDER BY event_type""".stripMargin

  def queries: Map[String, Q] = Map(
    "t38_neyman_alloc" -> t38NeymanAlloc,
    "w14_cusum" -> w14Cusum,
    "t35_jsd_drift" -> t35JsdDrift,
    "f7_ab_lift" -> f7AbLift,
    "e6_psi_drift" -> e6PsiDrift,
    "w13_rolling_moments" -> w13RollingMoments,
    "x8_sax_motifs" -> x8SaxMotifs,
  )

  def oracle: Map[String, String] = Map(
    "t38_neyman_alloc" -> t38NeymanAllocSql,
    "w14_cusum" -> w14CusumSql,
    "t35_jsd_drift" -> t35JsdDriftSql,
    "f7_ab_lift" -> f7AbLiftSql,
    "e6_psi_drift" -> e6PsiDriftSql,
    "w13_rolling_moments" -> w13RollingMomentsSql,
    "x8_sax_motifs" -> x8SaxMotifsSql,
  )
}
