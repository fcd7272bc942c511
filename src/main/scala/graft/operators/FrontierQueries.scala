package graft.operators

import graft.Graft
import graft.Graft.Q
import graft.operators.CoreQueries.q6
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Frontier / distribution-audit operators: Pareto skyline, Benford
  * first-digit conformance, contingency-table association, two-sample
  * Kolmogorov–Smirnov distance, and the Gini concentration index. The
  * "is this table statistically what we think it is" layer — fraud
  * screens (Benford), segment dependence (chi²), distribution equality
  * (KS), inequality (Gini), and multi-objective best-choice (skyline).
  *
  * Scale shapes: every operator aggregates FIRST (per-digit / per-cell
  * / per-value / per-customer / per-size) so the ordered or windowed
  * tail runs over a bounded frame, never the raw fact table. The
  * skyline uses the low-cardinality-dimension trick (per-size min
  * price, then one running-min sweep) instead of the O(n²) dominance
  * join; the KS statistic compares exact integer jump counts, not
  * floating CDFs.
  *
  * Numeric policy per CoreQueries: counts stay integers as long as
  * possible; cross-engine-sensitive products go through DECIMAL;
  * probability constants are shared literal text so both engines parse
  * the identical double; outputs quantize on floor(x·1e6+0.5)/1e6.
  */
object FrontierQueries {

  /** K9: 2-D Pareto skyline of the part catalog — the parts for which
    * no other part is both cheaper-or-equal and larger-or-equal (strict
    * in one): minimize p_retailprice, maximize p_size. Computed by the
    * aggregate-then-sweep plan: per-size minimum price (one keyed
    * aggregation — the only pass over the table) and a running-min
    * sweep down the ≤50-row size ladder; a size survives iff its best
    * price beats every larger size's best. Identical output to the
    * textbook NOT-EXISTS dominance self-join (which the oracle runs as
    * an independent formulation) at a tiny fraction of the cost — the
    * O(n²) join never materializes at any scale. */
  val k9Skyline: Q = (s, dir) => {
    val best = Graft.table(s, dir, "part")
      .groupBy(col("p_size").as("size"))
      .agg(min(col("p_retailprice")).as("price"))
    val sweep = Window.orderBy(col("size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    best
      .withColumn("prevmin", min(col("price")).over(sweep))
      .filter(col("prevmin").isNull || col("price") < col("prevmin"))
      .select(col("size"), col("price"))
      .orderBy("size")
  }

  /** Oracle: the direct dominance definition over distinct points —
    * structurally independent of the Spark plan, so agreement checks
    * the semantics, not the trick. */
  val k9SkylineSql: String =
    """WITH pts AS (
      |  SELECT DISTINCT p_size AS size, p_retailprice AS price FROM part)
      |SELECT size, price FROM pts a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM pts b
      |  WHERE b.price <= a.price AND b.size >= a.size
      |    AND (b.price < a.price OR b.size > a.size))
      |ORDER BY size""".stripMargin

  /** Shared Benford expectation spine: digit → P(first digit = d) =
    * log10(1 + 1/d), as literal text identical on both engines. */
  private val benfordP = Seq(
    1 -> "0.3010299956639812", 2 -> "0.17609125905568124",
    3 -> "0.12493873660829992", 4 -> "0.09691001300805642",
    5 -> "0.07918124604762482", 6 -> "0.06694678963061322",
    7 -> "0.05799194697768673", 8 -> "0.05115252244738129",
    9 -> "0.04575749056067514")

  /** E11: Benford first-digit audit of o_totalprice — the classic
    * fabricated-numbers screen. First significant digit extracted via
    * exact integer cents (floor(x·100) → BIGINT → first char of its
    * plain decimal string: no double→string formatting, no E-notation
    * divergence, no cents-rounding flip at the 999.995 boundary), one
    * digit-keyed aggregation, expected counts from the shared literal
    * spine, χ² as the exact-decimal sum of per-digit quantized terms.
    * One scan + one 9-row aggregate at any scale. */
  val e11Benford: Q = (s, dir) => {
    val digits = Graft.table(s, dir, "orders")
      .select(substring(
        floor(col("o_totalprice") * lit(100.0)).cast("long").cast("string"),
        1, 1).as("digit"))
      .filter(col("digit").between("1", "9"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val spine = benfordP
      .map { case (d, p) => s"SELECT '$d' AS digit, CAST($p AS DOUBLE) AS p" }
      .mkString(" UNION ALL ")
    val sp = s.sql(spine)
    val tot = Window.partitionBy()
    sp.join(digits, Seq("digit"), "left")
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
      .withColumn("n", sum(col("n_obs")).over(tot))
      .withColumn("expected", col("p") * col("n"))
      .withColumn("term",
        q6(pow(col("n_obs") - col("expected"), 2) / col("expected")))
      .withColumn("chi2", q6(
        sum(col("term").cast("decimal(28,6)")).over(tot).cast("double")))
      .select(col("digit").cast("int").as("digit"),
        col("n_obs").cast("long").as("n_obs"),
        q6(col("expected")).as("expected"), col("term"), col("chi2"))
      .orderBy("digit")
  }

  val e11BenfordSql: String = {
    val spine = benfordP
      .map { case (d, p) => s"SELECT '$d' AS digit, CAST($p AS DOUBLE) AS p" }
      .mkString("\n      UNION ALL ")
    s"""WITH spine AS (
       |  $spine),
       |obs AS (
       |  SELECT substring(CAST(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS VARCHAR), 1, 1) AS digit,
       |    COUNT(*) AS n_obs
       |  FROM orders
       |  WHERE substring(CAST(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS VARCHAR), 1, 1) BETWEEN '1' AND '9'
       |  GROUP BY 1),
       |j AS (
       |  SELECT spine.digit, spine.p, COALESCE(obs.n_obs, 0) AS n_obs,
       |    SUM(COALESCE(obs.n_obs, 0)) OVER () AS n
       |  FROM spine LEFT JOIN obs ON spine.digit = obs.digit),
       |t AS (
       |  SELECT digit, n_obs, p * n AS expected,
       |    floor(pow(n_obs - p * n, 2) / (p * n) * 1e6 + 0.5) / 1e6 AS term
       |  FROM j)
       |SELECT CAST(digit AS INTEGER) AS digit, CAST(n_obs AS BIGINT) AS n_obs,
       |  floor(expected * 1e6 + 0.5) / 1e6 AS expected, term,
       |  floor(CAST(SUM(CAST(term AS DECIMAL(28,6))) OVER () AS DOUBLE) * 1e6 + 0.5) / 1e6 AS chi2
       |FROM t ORDER BY digit""".stripMargin
  }

  /** F16: χ² test of independence between event_type and ISO weekday —
    * "does behavior depend on the day of week". Contingency cells from
    * one keyed aggregation; marginals are two tiny re-aggregations of
    * the cells (never a second scan); expected = row·col/n as one
    * IEEE chain on exact integers; χ² sums the per-cell terms through
    * DECIMAL (order-independent), with dof and Cramér's V alongside.
    * Weekday via Spark weekday()+1 = DuckDB isodow (Mon=1..Sun=7). */
  val f16Chi2Assoc: Q = (s, dir) => {
    val cells = Graft.table(s, dir, "events")
      .withColumn("day", to_date(expr("timestamp_micros(ts div 1000)")))
      .select(col("event_type"), (weekday(col("day")) + 1).cast("long").as("dow"))
      .groupBy("event_type", "dow").agg(count(lit(1)).as("o"))
    val rows = cells.groupBy("event_type").agg(sum("o").cast("long").as("r"))
    val cols = cells.groupBy("dow").agg(sum("o").cast("long").as("c"))
    cells.join(broadcast(rows), "event_type").join(broadcast(cols), "dow")
      .withColumn("n", sum(col("o")).over(Window.partitionBy()))
      // r·c through decimal: two ~n-sized marginals multiplied as longs
      // would overflow past n ≈ 3e9 rows
      .withColumn("e",
        (col("r").cast("decimal(20,0)") * col("c")).cast("double") / col("n"))
      .withColumn("term", pow(col("o") - col("e"), 2) / col("e"))
      .agg(
        sum(col("term").cast("decimal(28,12)")).as("chi2d"),
        countDistinct(col("event_type")).as("nr"),
        countDistinct(col("dow")).as("nc"),
        sum(col("o")).cast("long").as("n"))
      .select(
        q6(col("chi2d").cast("double")).as("chi2"),
        ((col("nr") - 1) * (col("nc") - 1)).cast("long").as("dof"),
        q6(sqrt(col("chi2d").cast("double") /
          (col("n") * least(col("nr") - 1, col("nc") - 1)))).as("cramers_v"),
        col("n"))
  }

  val f16Chi2AssocSql: String =
    """WITH cells AS (
      |  SELECT event_type, CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS dow,
      |    COUNT(*) AS o
      |  FROM events GROUP BY 1, 2),
      |rc AS (
      |  SELECT event_type, dow, o,
      |    SUM(o) OVER (PARTITION BY event_type) AS r,
      |    SUM(o) OVER (PARTITION BY dow) AS c,
      |    SUM(o) OVER () AS n
      |  FROM cells),
      |t AS (
      |  SELECT o, CAST(r * c AS DOUBLE) / n AS e, n, event_type, dow FROM rc)
      |SELECT
      |  floor(CAST(SUM(CAST(pow(o - e, 2) / e AS DECIMAL(28,12))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS chi2,
      |  CAST((COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT dow) - 1) AS BIGINT) AS dof,
      |  floor(sqrt(CAST(SUM(CAST(pow(o - e, 2) / e AS DECIMAL(28,12))) AS DOUBLE) /
      |    (MAX(n) * LEAST(COUNT(DISTINCT event_type) - 1, COUNT(DISTINCT dow) - 1))) * 1e6 + 0.5) / 1e6 AS cramers_v,
      |  CAST(MAX(n) AS BIGINT) AS n
      |FROM t""".stripMargin

  /** W16: two-sample Kolmogorov–Smirnov distance between the value
    * distributions of click and purchase events — the canonical "are
    * these two samples from the same distribution" screen (feature
    * drift between cohorts, A/B invariance checks). Exact: per-value
    * jump counts from one keyed aggregation, one ordered sweep over the
    * DISTINCT values (bounded by value cardinality, not row count),
    * and D = max |cumA·nB − cumB·nA| in DECIMAL integers — the CDFs
    * are never floated, so there is no accumulation error to disagree
    * on; the single division happens once at the end. */
  val w16KsTest: Q = (s, dir) => {
    val ev = Graft.table(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy("value").agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("ca"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("cb"))
    // Ordered CDF pass over distinct values — distributed via the
    // GlobalRank prefix-sum sweep instead of an unpartitioned window
    // (value cardinality scales with real data). Totals fall out of
    // the inclusive running sums (max = last row), rejoined as a
    // broadcast 1-row frame.
    val cum = graft.functions.GlobalRank.withPrefixSums(ev,
      Seq("ca" -> "cuma", "cb" -> "cumb"), inclusive = true, col("value"))
    val tots = cum.agg(max(col("cuma")).as("na"), max(col("cumb")).as("nb"))
    cum.crossJoin(broadcast(tots))
      .agg(
        max(abs(col("cuma").cast("decimal(18,0)") * col("nb") -
          col("cumb").cast("decimal(18,0)") * col("na"))).as("dnum"),
        max(col("na")).as("na"), max(col("nb")).as("nb"))
      .select(col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        q6(col("dnum").cast("double") /
          (col("na").cast("double") * col("nb").cast("double"))).as("d_stat"))
  }

  val w16KsTestSql: String =
    """WITH g AS (
      |  SELECT value,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
      |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY value),
      |c AS (
      |  SELECT
      |    SUM(ca) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
      |    SUM(cb) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
      |    SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
      |  FROM g)
      |SELECT CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
      |  floor(CAST(MAX(ABS(CAST(cuma AS DECIMAL(18,0)) * CAST(nb AS DECIMAL(18,0)) -
      |                     CAST(cumb AS DECIMAL(18,0)) * CAST(na AS DECIMAL(18,0)))) AS DOUBLE) /
      |    (CAST(MAX(na) AS DOUBLE) * CAST(MAX(nb) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS d_stat
      |FROM c""".stripMargin

  /** A24: Gini concentration of customer spend — how unequal revenue
    * is across customers (the whale-dependence metric every marketplace
    * tracks). Per-customer spend through exact DECIMAL cents, one
    * ranked sweep over the 1-row-per-customer frame (bounded by
    * customer count), G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) on sorted
    * spend — all DECIMAL until the final division. Rank ties (equal
    * spend) cannot change the sum, so the custkey tiebreak is for
    * determinism of the sweep only. The ranks come from
    * [[graft.functions.GlobalRank.withRowNumber]] (range-partitioned
    * prefix offsets), not an unpartitioned window: the per-customer
    * frame scales linearly with the fact table, and a single-task
    * sort over every customer is exactly the shape that dies first
    * on a real cluster. */
  val a24Gini: Q = (s, dir) => {
    val spend = Graft.table(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)").as("spend"))
    graft.functions.GlobalRank
      .withRowNumber(spend, "i", col("spend"), col("o_custkey"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("spend")).as("s"),
        sum(col("spend") * col("i")).as("w"))
      .select(col("n").cast("long").as("n_customers"),
        col("s").cast("decimal(38,2)").as("total_spend"),
        q6((lit(2.0) * col("w").cast("double") -
          (col("n") + 1).cast("double") * col("s").cast("double")) /
          (col("n").cast("double") * col("s").cast("double"))).as("gini"))
  }

  val a24GiniSql: String =
    """WITH spend AS (
      |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      |  FROM orders GROUP BY o_custkey),
      |rk AS (
      |  SELECT CAST(spend AS DECIMAL(18,2)) AS spend,
      |    CAST(row_number() OVER (ORDER BY spend, o_custkey) AS BIGINT) AS i
      |  FROM spend)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
      |  CAST(SUM(spend) AS DECIMAL(38,2)) AS total_spend,
      |  floor((2.0 * CAST(SUM(spend * i) AS DOUBLE) -
      |    CAST(COUNT(*) + 1 AS DOUBLE) * CAST(SUM(spend) AS DOUBLE)) /
      |    (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(spend) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS gini
      |FROM rk""".stripMargin

  /** Q-WM: exact weighted median — per return flag, the smallest
    * extended price whose cumulative quantity reaches half the flag's
    * total: the "half the volume trades at or below this price" pivot
    * that an unweighted median misstates whenever quantity correlates
    * with price. Weights aggregate per (flag, price) FIRST (the ordered
    * sweep runs over distinct prices, not rows), cumulative and total
    * quantities stay exact — DECIMAL(18,2) scaled ×100 to long CENTS
    * so [[graft.functions.GlobalRank.withGroupPrefixSums]] can run the
    * sweep distributed (distinct prices scale with data; there are 3
    * flags, so a `partition by flag` window is three whole-table
    * single-task sorts) — and the crossing test doubles the cumulative
    * (2·cum ≥ tot) instead of halving the total: no division, no
    * float, no tie ambiguity. The OUTPUT total is cents/100.0 in
    * DOUBLE (not DECIMAL(38,2)): one correctly-rounded IEEE division
    * of an exactly-represented integer ≡ DuckDB's decimal→double cast,
    * and it sidesteps the one driver-side DECIMAL
    * hash-canonicalization mismatch this query hit in round 4 (the
    * values were cell-identical; only the hash differed). */
  val qWeightedMedian: Q = (s, dir) => {
    val g = Graft.table(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_extendedprice")
      .agg((sum(col("l_quantity").cast("decimal(18,2)")).cast("decimal(18,2)")
        * 100).cast("long").as("qty_c"))
    val cum = graft.functions.GlobalRank.withGroupPrefixSums(
      g, Seq("qty_c" -> "cum_c"), inclusive = true, Seq("l_returnflag"),
      col("l_extendedprice"))
    val tot = cum.groupBy("l_returnflag").agg(sum(col("qty_c")).as("tot_c"))
    cum.join(broadcast(tot), "l_returnflag")
      .filter(col("cum_c") * 2 >= col("tot_c"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("l_extendedprice")).as("weighted_median"),
        (max(col("tot_c")).cast("double") / lit(100.0)).as("total_qty"))
      .orderBy("l_returnflag")
  }

  val qWeightedMedianSql: String =
    """WITH g AS (
      |  SELECT l_returnflag, l_extendedprice,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS qty
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT l_returnflag, l_extendedprice,
      |    SUM(qty) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(qty) OVER (PARTITION BY l_returnflag) AS tot
      |  FROM g)
      |SELECT l_returnflag, MIN(l_extendedprice) AS weighted_median,
      |  CAST(MAX(tot) AS DOUBLE) AS total_qty
      |FROM c WHERE cum * 2 >= tot
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** J6: calendar coverage gaps as islands — for each user, the
    * maximal runs of consecutive master-calendar days with NO events:
    * how long each series goes dark, not just how often (C1 counts
    * holes; this shapes them). Computed O(present), never densified:
    * a gap between consecutive PRESENT days is `lead(drk) − drk − 1`
    * calendar slots (one per-user window over present rows), plus a
    * head run before `min(drk)` and a tail run after `max(drk)`
    * against the calendar bounds — the earlier users×calendar dense
    * spine materialized |users|·|days| rows (~2000× the present set
    * for sparse users) to derive the same runs. The calendar is
    * bounded (distinct days), so its rank/total window and the two
    * broadcast lookups (drk attach, gap-start day recovery) are
    * metadata-sized at any scale. */
  val j6GapIslands: Q = (s, dir) => {
    val ev = Graft.table(s, dir, "events")
      .withColumn("day", to_date(expr("timestamp_micros(ts div 1000)")))
    val wCal = Window.orderBy("day")
    // drk + calendar total in ONE tiny window pass; materialized because
    // both the present-attach and the gap-start lookup read it.
    val cal = Graft.materialize(ev.select(col("day")).distinct()
      .withColumn("drk", row_number().over(wCal))
      .withColumn("dmax", count(lit(1)).over(
        wCal.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))))
    val present = Graft.materialize(
      ev.select("user_id", "day").distinct().join(broadcast(cal), "day"))
    val leadW = Window.partitionBy("user_id").orderBy("drk")
    val interiorRuns = present
      .withColumn("nxt", lead(col("drk"), 1).over(leadW))
      .where(col("nxt") - col("drk") > 1)
      .select(col("user_id"), (col("drk") + 1).as("srk"),
        (col("nxt") - col("drk") - 1).cast("long").as("len"))
    val bounds = present.groupBy("user_id")
      .agg(min(col("drk")).as("mn"), max(col("drk")).as("mx"),
        max(col("dmax")).as("dm"))
    val headRuns = bounds.where(col("mn") > 1)
      .select(col("user_id"), lit(1).as("srk"),
        (col("mn") - 1).cast("long").as("len"))
    val tailRuns = bounds.where(col("mx") < col("dm"))
      .select(col("user_id"), (col("mx") + 1).as("srk"),
        (col("dm") - col("mx")).cast("long").as("len"))
    interiorRuns.unionByName(headRuns).unionByName(tailRuns)
      .join(broadcast(cal.select(col("drk").as("srk"), col("day").as("gap_start"))),
        "srk")
      .groupBy("user_id")
      .agg(count(lit(1)).cast("long").as("n_gaps"),
        max(col("len")).cast("long").as("max_gap_days"),
        sum(col("len")).cast("long").as("missing_days"),
        min(col("gap_start")).as("first_gap_start"))
      .orderBy("user_id")
  }

  val j6GapIslandsSql: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |cal AS (
      |  SELECT day, row_number() OVER (ORDER BY day) AS drk
      |  FROM (SELECT DISTINCT day FROM ev)),
      |users AS (SELECT DISTINCT user_id FROM ev),
      |present AS (SELECT DISTINCT user_id, day FROM ev),
      |missing AS (
      |  SELECT u.user_id, c.day, c.drk
      |  FROM users u CROSS JOIN cal c
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM present p WHERE p.user_id = u.user_id AND p.day = c.day)),
      |isl AS (
      |  SELECT user_id, drk - row_number() OVER (PARTITION BY user_id ORDER BY drk) AS grp,
      |    day
      |  FROM missing),
      |runs AS (
      |  SELECT user_id, grp, COUNT(*) AS len, MIN(day) AS gap_start
      |  FROM isl GROUP BY 1, 2)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |  CAST(MAX(len) AS BIGINT) AS max_gap_days,
      |  CAST(SUM(len) AS BIGINT) AS missing_days,
      |  MIN(gap_start) AS first_gap_start
      |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Q-AI: active-interval counts by difference array — how many orders
    * are OPEN (placed, not yet fully shipped) on each day the count
    * changes: each order contributes exactly two delta rows (+1 at
    * o_orderdate, −1 the day after its last l_shipdate), the deltas
    * aggregate per day, and one cumulative sum over the tiny day spine
    * yields the census — the interval-stabbing shape that never builds
    * a per-day × per-order join (the naive plan is |days|·|orders|;
    * this is 2·|orders| + |days|). Pure integer arithmetic. */
  val qActiveIntervals: Q = (s, dir) => {
    val spans = Graft.table(s, dir, "orders")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("start_day"))
      .join(Graft.table(s, dir, "lineitem")
          .groupBy("l_orderkey").agg(max(to_date(col("l_shipdate"))).as("last_ship")),
        col("o_orderkey") === col("l_orderkey"))
    val deltas = spans.select(col("start_day").as("day"), lit(1L).as("delta"))
      .unionByName(spans.select(date_add(col("last_ship"), 1).as("day"),
        lit(-1L).as("delta")))
      .groupBy("day").agg(sum("delta").as("d"))
    deltas
      .withColumn("active", sum(col("d")).over(
        Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("day"), col("d").cast("long").as("delta"),
        col("active").cast("long").as("active"))
      .orderBy("day")
  }

  val qActiveIntervalsSql: String =
    """WITH spans AS (
      |  SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS start_day,
      |    MAX(CAST(l.l_shipdate AS DATE)) AS last_ship
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |  GROUP BY 1, 2),
      |deltas AS (
      |  SELECT day, SUM(delta) AS d FROM (
      |    SELECT start_day AS day, 1 AS delta FROM spans
      |    UNION ALL
      |    SELECT last_ship + INTERVAL 1 DAY, -1 FROM spans)
      |  GROUP BY day)
      |SELECT CAST(day AS DATE) AS day, CAST(d AS BIGINT) AS delta,
      |  CAST(SUM(d) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS active
      |FROM deltas ORDER BY day""".stripMargin

  /** Q-MI: merged busy spans per supplier — each lineitem occupies
    * [shipdate−3, shipdate]; overlapping or adjacent occupations merge
    * into maximal spans (the interval-union shape: booking systems,
    * maintenance windows, coverage audits). Per supplier: running max
    * of span ends over the start-ordered intervals, a new island
    * whenever a start clears the running max by more than a day, then
    * two aggregations for span stats. All date/integer arithmetic; the
    * intervals reduce per (supplier, shipdate) FIRST so the sweep runs
    * over distinct dates, not line items. */
  val qMergeIntervals: Q = (s, dir) => {
    val iv = Graft.table(s, dir, "lineitem")
      .select(col("l_suppkey"), to_date(col("l_shipdate")).as("e"))
      .distinct()
      .withColumn("st", date_sub(col("e"), 3))
    val w = Window.partitionBy("l_suppkey").orderBy("st", "e")
    val prevMax = max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    iv
      .withColumn("newisl",
        when(prevMax.isNull || col("st") > date_add(prevMax, 1), 1L).otherwise(0L))
      .withColumn("isl", sum(col("newisl")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("l_suppkey", "isl")
      .agg(min(col("st")).as("s0"), max(col("e")).as("e0"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).cast("long").as("n_spans"),
        sum(datediff(col("e0"), col("s0")) + 1).cast("long").as("busy_days"),
        max(datediff(col("e0"), col("s0")) + 1).cast("long").as("max_span_days"))
      .orderBy("l_suppkey")
  }

  val qMergeIntervalsSql: String =
    """WITH iv AS (
      |  SELECT DISTINCT l_suppkey, CAST(l_shipdate AS DATE) AS e,
      |    CAST(CAST(l_shipdate AS DATE) - INTERVAL 3 DAY AS DATE) AS st
      |  FROM lineitem),
      |m AS (
      |  SELECT l_suppkey, st, e,
      |    MAX(e) OVER (PARTITION BY l_suppkey ORDER BY st, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
      |  FROM iv),
      |fl AS (
      |  SELECT l_suppkey, st, e,
      |    CASE WHEN prevmax IS NULL OR st > CAST(prevmax + INTERVAL 1 DAY AS DATE)
      |         THEN 1 ELSE 0 END AS newisl
      |  FROM m),
      |isl AS (
      |  SELECT l_suppkey, st, e,
      |    SUM(newisl) OVER (PARTITION BY l_suppkey ORDER BY st, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      |  FROM fl),
      |sp AS (
      |  SELECT l_suppkey, isl, MIN(st) AS s0, MAX(e) AS e0
      |  FROM isl GROUP BY 1, 2)
      |SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_spans,
      |  CAST(SUM(date_diff('day', s0, e0) + 1) AS BIGINT) AS busy_days,
      |  CAST(MAX(date_diff('day', s0, e0) + 1) AS BIGINT) AS max_span_days
      |FROM sp GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin

  /** E13: pipeline volume anomaly — days whose event count deviates
    * more than 3 rolling MADs from the trailing 7-day rolling median:
    * the "did yesterday's load look wrong" monitor over the ingest
    * volume itself (e6/t35 watch distributions; this watches row
    * counts). Two windows over the tiny per-day aggregate — rolling
    * median of counts, then rolling median of |deviation| — with the
    * same interpolated-percentile the a5/w12 family uses; a zero MAD
    * (constant week) flags any nonzero deviation. */
  val e13VolumeAnomaly: Q = (s, dir) => {
    val daily = Graft.table(s, dir, "events")
      .withColumn("day", to_date(expr("timestamp_micros(ts div 1000)")))
      .groupBy("day").agg(count(lit(1)).as("c"))
    val w7 = Window.orderBy("day").rowsBetween(-7, -1)
    val flagged = daily
      .withColumn("rn", row_number().over(Window.orderBy("day")))
      .withColumn("med", expr("percentile(c, 0.5)").over(w7))
      .withColumn("dev", abs(col("c") - col("med")))
      .withColumn("mad", expr("percentile(dev, 0.5)").over(w7))
      .filter(col("rn") >= 8)
      .withColumn("anomaly",
        when(col("mad") > 0, col("dev") > lit(3.0) * col("mad"))
          .otherwise(col("dev") > 0))
    flagged.select(col("day"), col("c").cast("long").as("n_rows"),
        q6(col("med")).as("med7"), q6(col("mad")).as("mad7"), col("anomaly"))
      .orderBy("day")
  }

  val e13VolumeAnomalySql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
      |  FROM events GROUP BY 1),
      |r AS (
      |  SELECT day, c,
      |    row_number() OVER (ORDER BY day) AS rn,
      |    quantile_cont(c, 0.5) OVER (ORDER BY day
      |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS med
      |  FROM daily),
      |d AS (
      |  SELECT day, c, rn, med, ABS(c - med) AS dev FROM r),
      |m AS (
      |  SELECT day, c, rn, med, dev,
      |    quantile_cont(dev, 0.5) OVER (ORDER BY day
      |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS mad
      |  FROM d)
      |SELECT day, CAST(c AS BIGINT) AS n_rows,
      |  floor(med * 1e6 + 0.5) / 1e6 AS med7,
      |  floor(mad * 1e6 + 0.5) / 1e6 AS mad7,
      |  CASE WHEN mad > 0 THEN dev > 3.0 * mad ELSE dev > 0 END AS anomaly
      |FROM m WHERE rn >= 8 ORDER BY day""".stripMargin

  /** J7: nearest-as-of join WITHOUT a join — for every click, the
    * temporally nearest purchase of the same user (backward OR
    * forward, ties to the earlier): the sensor-alignment primitive
    * between q_asof_join (backward only) and q_asof_forward. Runs as
    * the tagged-union window trick: interleave both streams on one
    * (user, ts) sort, take last-purchase-so-far (backward) and its
    * mirror under reverse order (forward), then pick the nearer —
    * one series-keyed shuffle total; the classic range join never
    * appears. Same-instant purchases count as backward (distance 0).
    * All integer ns arithmetic. */
  val j7NearestAsof: Q = (s, dir) => {
    val ev = Graft.table(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"),
        (col("event_type") === "purchase").as("is_p"))
    // purchases sort before clicks at equal ts (side 0 < 1) so a
    // same-instant purchase is visible to the backward pass
    val side = when(col("is_p"), 0).otherwise(1)
    val fwdOrd = Seq(col("ts").desc, side.desc, col("event_id").desc)
    val back = Window.partitionBy("user_id")
      .orderBy(col("ts"), side, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val fwd = Window.partitionBy("user_id").orderBy(fwdOrd: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val pTs = when(col("is_p"), col("ts"))
    val pId = when(col("is_p"), col("event_id"))
    ev
      .withColumn("b_ts", last(pTs, ignoreNulls = true).over(back))
      .withColumn("b_id", last(pId, ignoreNulls = true).over(back))
      .withColumn("f_ts", last(pTs, ignoreNulls = true).over(fwd))
      .withColumn("f_id", last(pId, ignoreNulls = true).over(fwd))
      .filter(!col("is_p"))
      .withColumn("db", col("ts") - col("b_ts"))
      .withColumn("df", col("f_ts") - col("ts"))
      .withColumn("use_b", col("f_ts").isNull ||
        (col("b_ts").isNotNull && col("db") <= col("df")))
      .filter(col("b_ts").isNotNull || col("f_ts").isNotNull)
      .select(col("event_id").as("click_id"), col("user_id"),
        when(col("use_b"), col("b_id")).otherwise(col("f_id")).as("purchase_id"),
        when(col("use_b"), col("db")).otherwise(col("df")).cast("long").as("gap_ns"))
      .orderBy("user_id", "click_id")
  }

  val j7NearestAsofSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_ns(ts) AS tsn, event_id,
      |    event_type = 'purchase' AS is_p,
      |    CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS side
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |m AS (
      |  SELECT user_id, tsn, event_id, is_p,
      |    last_value(CASE WHEN is_p THEN tsn END IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY tsn, side, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b_ts,
      |    last_value(CASE WHEN is_p THEN event_id END IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY tsn, side, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b_id,
      |    last_value(CASE WHEN is_p THEN tsn END IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY tsn DESC, side DESC, event_id DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f_ts,
      |    last_value(CASE WHEN is_p THEN event_id END IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY tsn DESC, side DESC, event_id DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f_id
      |  FROM ev)
      |SELECT event_id AS click_id, user_id,
      |  CASE WHEN f_ts IS NULL OR (b_ts IS NOT NULL AND tsn - b_ts <= f_ts - tsn)
      |       THEN b_id ELSE f_id END AS purchase_id,
      |  CAST(CASE WHEN f_ts IS NULL OR (b_ts IS NOT NULL AND tsn - b_ts <= f_ts - tsn)
      |       THEN tsn - b_ts ELSE f_ts - tsn END AS BIGINT) AS gap_ns
      |FROM m
      |WHERE NOT is_p AND (b_ts IS NOT NULL OR f_ts IS NOT NULL)
      |ORDER BY user_id, click_id""".stripMargin

  /** T41: ε-differentially-private event counts with DETERMINISTIC
    * Laplace noise — per-type counts plus Laplace(1/ε) noise whose
    * uniform comes from the md5 of the type (a seeded-noise release:
    * reproducible across engines and runs, the property a verifiable
    * pipeline needs even though a production DP system would draw
    * fresh randomness). u takes 52 md5 bits (exact in a double on both
    * engines), the inverse-CDF is one shared ln chain (bit-agreeing —
    * t17/x7), and the argument is clamped away from ln(0). True counts
    * are also emitted — this is an engine mechanism demo, not a
    * privacy boundary (the release would drop them). */
  val t41DpCounts: Q = (s, dir) => {
    val eps = 0.1
    Graft.table(s, dir, "events")
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .withColumn("u",
        conv(substring(md5(concat(col("event_type"), lit("|dp1"))), 1, 13), 16, 10)
          .cast("double") / lit(4503599627370496.0)) // 2^52
      .withColumn("a",
        greatest(lit(1.0) - lit(2.0) * abs(col("u") - lit(0.5)), lit(2.2e-16)))
      .withColumn("noise",
        -lit(1.0 / eps) * signum(col("u") - lit(0.5)) * log(col("a")))
      .select(col("event_type"), col("n").cast("long").as("n_true"),
        q6(col("n") + col("noise")).as("n_noisy"))
      .orderBy("event_type")
  }

  val t41DpCountsSql: String =
    """WITH g AS (
      |  SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type),
      |u AS (
      |  SELECT event_type, n,
      |    CAST(CAST(('0x' || substring(md5(event_type || '|dp1'), 1, 13)) AS BIGINT) AS DOUBLE)
      |      / 4503599627370496.0 AS u
      |  FROM g),
      |z AS (
      |  SELECT event_type, n,
      |    GREATEST(1.0 - 2.0 * ABS(u - 0.5), 2.2e-16) AS a, u
      |  FROM u)
      |SELECT event_type, CAST(n AS BIGINT) AS n_true,
      |  floor((n + -10.0 * sign(u - 0.5) * ln(a)) * 1e6 + 0.5) / 1e6 AS n_noisy
      |FROM z ORDER BY event_type""".stripMargin

  /** K10: top-3 events per user by value, as the
    * `row_number().over(...) <= k` idiom, which Spark plans as a
    * `WindowGroupLimit`: a Partial step sorts each input partition
    * locally (spillable) and ships at most k rows per key per
    * partition, and a Final step after the key exchange cuts the union
    * back to k. Total order (value desc, event_id) makes the k-cut
    * unambiguous. */
  val k10TopkNative: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
    Graft.table(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("value"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .drop("rk")
      .orderBy(col("user_id"), col("value").desc, col("event_id"))
  }

  val k10TopkNativeSql: String =
    """WITH r AS (
      |  SELECT user_id, event_id, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY value DESC, event_id) AS rk
      |  FROM events)
      |SELECT user_id, event_id, value FROM r WHERE rk <= 3
      |ORDER BY user_id, value DESC, event_id""".stripMargin

  /** W19: autocorrelation profile — corr(vₜ, vₜ₊ₗ) for lags 1..10 per
    * series: the memory/periodicity fingerprint (x6 does this BETWEEN
    * two series, i7 does one lag over a rolling frame; this is the
    * per-series spectrum). Ten lag columns come from one window pass
    * (all lags ride the same series shuffle), stack to (lag, v, vl)
    * rows, and one (user, lag) aggregation computes Pearson r — never
    * ten passes. corr's cross-engine agreement at 6 dp is the
    * a9/a10/w10 precedent. Lags with <3 pairs or zero variance yield
    * null on both engines (corr's own domain guard). */
  val w19Acf: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val lagged = (1 to 10).foldLeft(Graft.events(s, dir)) {
      case (df, l) => df.withColumn(s"v$l", lead(col("value"), l).over(w))
    }
    val stacked = lagged.select(col("user_id"), col("value"),
      expr("stack(10, " + (1 to 10).map(l => s"${l}L, v$l").mkString(", ") +
        ") AS (lag, vl)"))
      .filter(col("vl").isNotNull)
    stacked.groupBy("user_id", "lag")
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        q6(corr(col("value"), col("vl"))).as("acf"))
      .orderBy("user_id", "lag")
  }

  val w19AcfSql: String = {
    val leads = (1 to 10).map(l => s"lead(value, $l) OVER w AS v$l").mkString(",\n      |    ")
    val stack = (1 to 10).map(l => s"SELECT user_id, value, CAST($l AS BIGINT) AS lag, v$l AS vl FROM lg")
      .mkString("\n      |  UNION ALL ")
    s"""WITH lg AS (
       |  SELECT user_id, value,
       |    $leads
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |st AS (
       |  $stack)
       |SELECT user_id, lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  floor(corr(value, vl) * 1e6 + 0.5) / 1e6 AS acf
       |FROM st WHERE vl IS NOT NULL
       |GROUP BY user_id, lag ORDER BY user_id, lag""".stripMargin
  }

  def queries: Map[String, Q] = Map(
    "w19_acf" -> w19Acf,
    "k10_topk_native" -> k10TopkNative,
    "j7_nearest_asof" -> j7NearestAsof,
    "t41_dp_counts" -> t41DpCounts,
    "q_merge_intervals" -> qMergeIntervals,
    "e13_volume_anomaly" -> e13VolumeAnomaly,
    "q_active_intervals" -> qActiveIntervals,
    "q_weighted_median" -> qWeightedMedian,
    "j6_gap_islands" -> j6GapIslands,
    "k9_skyline" -> k9Skyline,
    "e11_benford" -> e11Benford,
    "f16_chi2_assoc" -> f16Chi2Assoc,
    "w16_ks_test" -> w16KsTest,
    "a24_gini" -> a24Gini,
  )

  def oracle: Map[String, String] = Map(
    "w19_acf" -> w19AcfSql,
    "k10_topk_native" -> k10TopkNativeSql,
    "j7_nearest_asof" -> j7NearestAsofSql,
    "t41_dp_counts" -> t41DpCountsSql,
    "q_merge_intervals" -> qMergeIntervalsSql,
    "e13_volume_anomaly" -> e13VolumeAnomalySql,
    "q_active_intervals" -> qActiveIntervalsSql,
    "q_weighted_median" -> qWeightedMedianSql,
    "j6_gap_islands" -> j6GapIslandsSql,
    "k9_skyline" -> k9SkylineSql,
    "e11_benford" -> e11BenfordSql,
    "f16_chi2_assoc" -> f16Chi2AssocSql,
    "w16_ks_test" -> w16KsTestSql,
    "a24_gini" -> a24GiniSql,
  )
}
