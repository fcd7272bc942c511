package graft.operators

import graft.Graft
import graft.Graft.Q
import graft.operators.CoreQueries.q6
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ledger / robust-statistics operators: clamped running inventory (a
  * data-dependent recurrence no SQL window frame expresses), true
  * time-weighted averaging over irregular event spacing, the
  * Mann-Whitney rank-sum test, Theil-Sen robust trend, and
  * sorted-neighborhood dedup blocking — the deterministic,
  * sort-based complement to the LSH family in [[graft.dedup.Dedup]].
  *
  * Scale shapes: the inventory kernel is the EMA-family sorted-group
  * pattern (one series-keyed shuffle, O(1) state); TWAP and
  * Mann-Whitney pre-aggregate per key / per distinct value before any
  * ordered pass; Theil-Sen's per-user pair fan-out is bounded by the
  * per-series day count (documented, like the DTW kernel); the SNM
  * sweep is one global range-partitioned sort plus lead() — no join at
  * all.
  *
  * Numeric policy per CoreQueries: recurrences are identical IEEE
  * chains on both engines; order-sensitive double sums snap each term
  * to DECIMAL first; rank arithmetic stays in integers (average ranks
  * carried as 2×rank to avoid the .5); outputs quantize on
  * floor(x·1e6+0.5)/1e6. */
object LedgerQueries {

  /** One inventory step: add Δ, then clamp the balance into [0, cap].
    * Shared by [[w17Inventory]] and the streaming
    * [[graft.streaming.EventStream.InventoryProcessor]], so the batch
    * and stream ledgers run the same IEEE chain. */
  def inventoryStep(bal: Double, delta: Double, cap: Double): Double = {
    val x = bal + delta
    if (x < 0) 0.0 else if (x > cap) cap else x
  }

  /** W17: clamped running inventory — balanceₜ = min(cap, max(0,
    * balanceₜ₋₁ + Δₜ)) with Δ = +value on purchases, −value/4 on
    * everything else, cap = 1000: the warehouse-ledger recurrence
    * (stock can neither go negative nor exceed capacity). The clamp
    * makes it data-dependent — NOT a prefix sum, NOT a window frame —
    * so it runs as a sorted-group kernel (one shuffle keyed by user,
    * sorted by (ts, event_id), one O(1)-state fold per series), and the
    * oracle replays it as a recursive CTE stepping rn → rn+1. The step
    * is [[inventoryStep]]; both engines execute the identical
    * add-then-clamp IEEE chain, so states agree bit-for-bit before the
    * final floor-grid. */
  val w17Inventory: Q = (s, dir) => {
    import s.implicits._
    val cap = 1000.0
    Graft.table(s, dir, "events")
      .select(col("user_id").cast("long"), col("ts").cast("long"),
        col("event_id").cast("long"),
        when(col("event_type") === "purchase", col("value"))
          .otherwise(-col("value") / 4).as("delta").cast("double"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("ts"), col("event_id")) { (uid, it) =>
        var bal = 0.0
        it.map { p =>
          bal = inventoryStep(bal, p._4, cap)
          (uid, p._3, bal)
        }
      }
      .toDF("user_id", "event_id", "balance")
      .select(col("user_id"), col("event_id"), q6(col("balance")).as("balance"))
      .orderBy("user_id", "event_id")
  }

  val w17InventorySql: String =
    """WITH RECURSIVE d AS (
      |  SELECT user_id, event_id,
      |    CASE WHEN event_type = 'purchase' THEN value ELSE -value / 4 END AS delta,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events),
      |b AS (
      |  SELECT user_id, event_id, rn,
      |    CASE WHEN delta < 0 THEN 0
      |         WHEN delta > 1000 THEN 1000 ELSE delta END AS bal
      |  FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT o.user_id, o.event_id, o.rn,
      |    CASE WHEN p.bal + o.delta < 0 THEN 0
      |         WHEN p.bal + o.delta > 1000 THEN 1000
      |         ELSE p.bal + o.delta END
      |  FROM b p JOIN d o ON o.user_id = p.user_id AND o.rn = p.rn + 1)
      |SELECT user_id, event_id,
      |  floor(bal * 1e6 + 0.5) / 1e6 AS balance
      |FROM b ORDER BY user_id, event_id""".stripMargin

  /** I18: time-weighted average price per series — ∫v dt / ∫dt over
    * the step function the irregular event stream traces (each value
    * holds until the next event): the fill-quality metric plain
    * averaging gets wrong whenever sampling is bursty. Exact across
    * engines: dt stays integer ns, each v·dt product is one double
    * multiply snapped to DECIMAL(38,6) (exact-half at 6 dp is
    * impossible for a binary double, so both engines' rounding
    * agrees), and the sums are decimal — order-independent. One
    * series-keyed shuffle; the lead() rides the same partitioning as
    * the aggregation. */
  val i18Twap: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Graft.events(s, dir)
      .withColumn("dt", lead(col("ts"), 1).over(w) - col("ts"))
      .filter(col("dt").isNotNull)
      .withColumn("vdt",
        (col("value") * col("dt").cast("double")).cast("decimal(38,6)"))
      .groupBy("user_id")
      .agg(sum(col("vdt")).as("svdt"), sum(col("dt")).cast("long").as("sdt"),
        count(lit(1)).cast("long").as("n_holds"))
      .select(col("user_id"), col("n_holds"),
        q6(col("svdt").cast("double") / col("sdt").cast("double")).as("twap"))
      .orderBy("user_id")
  }

  val i18TwapSql: String =
    """WITH d AS (
      |  SELECT user_id, value,
      |    lead(epoch_ns(ts)) OVER w - epoch_ns(ts) AS dt
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |t AS (
      |  SELECT user_id,
      |    CAST(value * CAST(dt AS DOUBLE) AS DECIMAL(38,6)) AS vdt, dt
      |  FROM d WHERE dt IS NOT NULL)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_holds,
      |  floor(CAST(SUM(vdt) AS DOUBLE) / CAST(SUM(dt) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS twap
      |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin

  /** W18: Mann-Whitney U (rank-sum) between click and purchase value
    * distributions — the nonparametric "is one sample stochastically
    * larger" companion to w16's KS distance. Fully exact: ranks come
    * from per-distinct-value jump counts (the same pre-aggregation as
    * w16 — the ordered pass runs over value cardinality, not rows),
    * average ranks for ties are carried as 2×rank so everything stays
    * integer until the final division: 2·R_A = Σ cntA·(2·cumBefore +
    * cntAll + 1), U = R_A − nA(nA+1)/2, ρ = U/(nA·nB) (the common-
    * language effect size). */
  val w18Mwu: Q = (s, dir) => {
    val ev = Graft.table(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy("value").agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("ca"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("cb"))
      .withColumn("call", col("ca") + col("cb"))
    // The ordered pass runs over distinct values — which in real data
    // scales with the input — so the cumulative counts come from the
    // distributed GlobalRank.withPrefixSums sweep, not an
    // unpartitioned window (a single task sorting the whole frame).
    graft.functions.GlobalRank
      .withPrefixSums(ev, Seq("call" -> "cumbefore"),
        inclusive = false, col("value"))
      .withColumn("r2a",
        col("ca").cast("decimal(18,0)") *
          (lit(2L) * col("cumbefore") + col("call") + 1))
      .agg(
        sum(col("r2a")).as("r2"),
        sum(col("ca")).cast("long").as("na"),
        sum(col("cb")).cast("long").as("nb"))
      .select(
        col("na").as("n_a"), col("nb").as("n_b"),
        // U = R_A - nA(nA+1)/2, with 2R_A exact in decimal; the /2 can
        // yield an exact .5 (a tie), which doubles represent exactly
        ((col("r2").cast("double") -
          (col("na").cast("decimal(18,0)") * (col("na") + 1)).cast("double")) / 2)
          .as("u_stat"),
        q6((col("r2").cast("double") -
          (col("na").cast("decimal(18,0)") * (col("na") + 1)).cast("double")) / 2 /
          (col("na").cast("double") * col("nb").cast("double"))).as("rho"))
  }

  val w18MwuSql: String =
    """WITH g AS (
      |  SELECT value,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
      |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY value),
      |c AS (
      |  SELECT ca, cb, ca + cb AS call,
      |    COALESCE(SUM(ca + cb) OVER (ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumbefore
      |  FROM g),
      |a AS (
      |  SELECT
      |    SUM(CAST(ca AS DECIMAL(18,0)) * CAST(2 * cumbefore + call + 1 AS DECIMAL(18,0))) AS r2,
      |    CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
      |  FROM c)
      |SELECT na AS n_a, nb AS n_b,
      |  (CAST(r2 AS DOUBLE) - CAST(CAST(na AS DECIMAL(18,0)) * (na + 1) AS DOUBLE)) / 2 AS u_stat,
      |  floor((CAST(r2 AS DOUBLE) - CAST(CAST(na AS DECIMAL(18,0)) * (na + 1) AS DOUBLE)) / 2 /
      |    (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS rho
      |FROM a""".stripMargin

  /** F17: Theil-Sen robust trend per series — the median of all
    * pairwise day-index slopes of the daily close: outlier-immune
    * where f10's least-squares slope is not (one corrupted tick moves
    * OLS arbitrarily, moves Theil-Sen not at all). The pair fan-out is
    * the documented per-series O(d²) bound over DAILY bars (d = days
    * per series — thousands of pairs, not row-pairs; same bounded-
    * kernel posture as the DTW family). The median is an explicit
    * middle-element selection (avg of the two middles when even) so
    * both engines pick identical values — no interpolating
    * percentile. Slopes divide over the integer day-index gap, not
    * dates, so the x-axis is engine-neutral. */
  val f17Theilsen: Q = (s, dir) => {
    val bars = PatternQueries.dailyBars(s, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy("day")))
      .select(col("user_id"), col("rn"), col("close"))
    val a = bars.as("a"); val b = bars.as("b")
    val slopes = a.join(b,
        col("a.user_id") === col("b.user_id") && col("b.rn") > col("a.rn"))
      .select(col("a.user_id").as("user_id"),
        ((col("b.close") - col("a.close")) /
          (col("b.rn") - col("a.rn")).cast("double")).as("slope"))
    val w = Window.partitionBy("user_id").orderBy("slope")
    slopes
      .withColumn("i", row_number().over(w))
      .withColumn("m", count(lit(1)).over(Window.partitionBy("user_id")))
      .filter(col("i") === floor((col("m") + 1) / 2) ||
        col("i") === floor(col("m") / 2) + 1)
      .groupBy("user_id")
      .agg(count(lit(1)).as("picked"), sum("slope").as("ssum"),
        max("m").cast("long").as("n_pairs"))
      .select(col("user_id"),
        q6(col("ssum") / col("picked")).as("sen_slope"), col("n_pairs"))
      .orderBy("user_id")
  }

  val f17TheilsenSql: String = PatternQueries.barsCte +
    """,
      |r AS (
      |  SELECT user_id, close,
      |    row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
      |  FROM bars),
      |s AS (
      |  SELECT a.user_id,
      |    (b.close - a.close) / CAST(b.rn - a.rn AS DOUBLE) AS slope
      |  FROM r a JOIN r b ON a.user_id = b.user_id AND b.rn > a.rn),
      |o AS (
      |  SELECT user_id, slope,
      |    row_number() OVER (PARTITION BY user_id ORDER BY slope) AS i,
      |    COUNT(*) OVER (PARTITION BY user_id) AS m
      |  FROM s)
      |SELECT user_id,
      |  floor(SUM(slope) / COUNT(*) * 1e6 + 0.5) / 1e6 AS sen_slope,
      |  CAST(MAX(m) AS BIGINT) AS n_pairs
      |FROM o WHERE i = (m + 1) // 2 OR i = m // 2 + 1
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** D13: sorted-neighborhood dedup blocking — normalize each doc to a
    * 32-char alnum sortkey, one block-partitioned sort (blocks =
    * 16-char key prefixes, which is also the pair filter — so the
    * distributed per-block sweep emits exactly the global window's
    * qualifying pairs), then lead() pairs each doc with its next 2
    * neighbors and keeps pairs sharing the block prefix. The deterministic, skew-free
    * complement to MinHash blocking: no hash families, no bucket
    * explosion on hot shingles, candidates bounded at (w−1)·n by
    * construction — the classic SNM pass a 100 TB near-dup pipeline
    * runs alongside LSH to catch prefix-aligned near-misses. No join
    * anywhere: the sweep IS the window. */
  val d13SnmPairs: Q = (s, dir) =>
    snmPairs(Graft.table(s, dir, "documents"))

  /** The SNM sweep over any (doc_id, text) frame — reused by the
    * blocking-quality eval (TextQueries.t40SnmEval) on the same derived
    * corpus the Jaccard ground truth runs on. */
  def snmPairs(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val keyed = docs
      .select(col("doc_id"),
        substring(regexp_replace(lower(col("text")), "[^a-z0-9]", ""), 1, 32)
          .as("k"))
      .withColumn("block", substring(col("k"), 1, 16))
    // same-16-prefix docs are contiguous under the global key sort, so
    // the neighborhood sweep distributes as a per-block window — the
    // qualifying pairs are identical to the oracle's single global
    // window, but the sort shuffles by block instead of serializing
    // through one task
    val w = Window.partitionBy("block").orderBy("k", "doc_id")
    val neigh = keyed
      .withColumn("id2_1", lead(col("doc_id"), 1).over(w))
      .withColumn("k2_1", lead(col("k"), 1).over(w))
      .withColumn("id2_2", lead(col("doc_id"), 2).over(w))
      .withColumn("k2_2", lead(col("k"), 2).over(w))
    val p1 = neigh.filter(col("id2_1").isNotNull)
      .select(col("doc_id").as("doc_a"), col("id2_1").as("doc_b"),
        col("k"), col("k2_1").as("k2"))
    val p2 = neigh.filter(col("id2_2").isNotNull)
      .select(col("doc_id").as("doc_a"), col("id2_2").as("doc_b"),
        col("k"), col("k2_2").as("k2"))
    p1.unionByName(p2)
      .filter(substring(col("k"), 1, 16) === substring(col("k2"), 1, 16))
      .select(col("doc_a"), col("doc_b"))
      .orderBy("doc_a", "doc_b")
  }

  val d13SnmPairsSql: String =
    """WITH keyed AS (
      |  SELECT doc_id,
      |    substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 32) AS k
      |  FROM documents),
      |n AS (
      |  SELECT doc_id, k,
      |    lead(doc_id, 1) OVER w AS id1, lead(k, 1) OVER w AS k1,
      |    lead(doc_id, 2) OVER w AS id2, lead(k, 2) OVER w AS k2
      |  FROM keyed WINDOW w AS (ORDER BY k, doc_id)),
      |p AS (
      |  SELECT doc_id AS doc_a, id1 AS doc_b, k, k1 AS kb FROM n WHERE id1 IS NOT NULL
      |  UNION ALL
      |  SELECT doc_id, id2, k, k2 FROM n WHERE id2 IS NOT NULL)
      |SELECT doc_a, doc_b FROM p
      |WHERE substring(k, 1, 16) = substring(kb, 1, 16)
      |ORDER BY doc_a, doc_b""".stripMargin

  def queries: Map[String, Q] = Map(
    "w17_inventory" -> w17Inventory,
    "i18_twap" -> i18Twap,
    "w18_mwu" -> w18Mwu,
    "f17_theilsen" -> f17Theilsen,
    "d13_snm_pairs" -> d13SnmPairs,
  )

  def oracle: Map[String, String] = Map(
    "w17_inventory" -> w17InventorySql,
    "i18_twap" -> i18TwapSql,
    "w18_mwu" -> w18MwuSql,
    "f17_theilsen" -> f17TheilsenSql,
    "d13_snm_pairs" -> d13SnmPairsSql,
  )
}
