package graft.operators

import graft.Graft.Q

/** Correlated-subquery TPC-H shapes (Q2/Q18/Q21/Q22 re-expressed over
  * the driver's star schema — there is no partsupp table, so Q2's
  * correlated min runs over lineitem supply prices, and Q21/Q22 use
  * `l_returnflag`/order recency in place of the receipt-date columns
  * the synthetic schema lacks).
  *
  * These four are written as Spark SQL text on purpose: the engine
  * surface under test is Catalyst's subquery DECORRELATION
  * (RewriteCorrelatedScalarSubquery / RewritePredicateSubquery turning
  * correlated scalar/EXISTS/NOT EXISTS into aggregate-join, left-semi
  * and left-anti joins). The DataFrame API cannot express a correlated
  * subquery, so SQL is the idiomatic front door; the plans that come
  * out are ordinary joins — PlanSpec pins the decorrelated shapes.
  *
  * Scale notes: every decorrelated subquery becomes a keyed shuffle on
  * its correlation key (p_partkey / l_orderkey / o_custkey) — the same
  * key the outer join uses, so partitionings are reused; nothing is
  * ever re-executed per outer row. Numeric policy: decimal exact sums
  * cast to double (CoreQueries scaladoc), ranking keys are parquet
  * doubles compared raw (bit-identical cross-engine, no computation).
  */
object CorrelatedQueries {

  /** Spark SQL over `Graft.table` reads, with each `@TABLE` placeholder
    * substituted by a temp view of that table named after it and `dir`:
    * the schema comes from `Graft.table`'s registry, so building the
    * query launches no inference job (a `parquet.`path`` relation infers
    * on every analysis). `s.sql` analyzes eagerly, so a later view
    * replacement never changes a frame already built. */
  private def sql(s: org.apache.spark.sql.SparkSession, dir: String,
      q: String): org.apache.spark.sql.DataFrame = {
    val tables = Seq("lineitem", "orders", "customer", "supplier",
      "part", "nation", "region").filter(t => q.contains(s"@$t"))
    s.sql(tables.foldLeft(q) { (acc, t) =>
      val view = s"${t}_${Integer.toHexString(dir.hashCode)}"
      graft.Graft.table(s, dir, t).createOrReplaceTempView(view)
      acc.replace(s"@$t", view)
    })
  }

  /** Q2 shape: min-cost supplier per part — a correlated SCALAR subquery
    * (the per-part minimum supply price within a region) that Catalyst
    * decorrelates into an aggregate + join on p_partkey. */
  val q2MinCost: Q = (s, dir) => sql(s, dir,
    """SELECT p.p_partkey, p.p_name, s.s_name, n.n_name,
      |       l.l_extendedprice AS min_price
      |FROM @part p, @lineitem l, @supplier s, @nation n, @region r
      |WHERE l.l_partkey = p.p_partkey
      |  AND s.s_suppkey = l.l_suppkey
      |  AND s.s_nationkey = n.n_nationkey
      |  AND n.n_regionkey = r.r_regionkey
      |  AND r.r_name = 'ASIA'
      |  AND p.p_size <= 5
      |  AND l.l_extendedprice = (
      |    SELECT MIN(l2.l_extendedprice)
      |    FROM @lineitem l2, @supplier s2, @nation n2, @region r2
      |    WHERE l2.l_partkey = p.p_partkey
      |      AND s2.s_suppkey = l2.l_suppkey
      |      AND s2.s_nationkey = n2.n_nationkey
      |      AND n2.n_regionkey = r2.r_regionkey)
      |ORDER BY p.p_partkey, s.s_name""".stripMargin)

  val q2MinCostSql: String =
    """SELECT p.p_partkey, p.p_name, s.s_name, n.n_name,
      |       l.l_extendedprice AS min_price
      |FROM part p, lineitem l, supplier s, nation n, region r
      |WHERE l.l_partkey = p.p_partkey
      |  AND s.s_suppkey = l.l_suppkey
      |  AND s.s_nationkey = n.n_nationkey
      |  AND n.n_regionkey = r.r_regionkey
      |  AND r.r_name = 'ASIA'
      |  AND p.p_size <= 5
      |  AND l.l_extendedprice = (
      |    SELECT MIN(l2.l_extendedprice)
      |    FROM lineitem l2, supplier s2, nation n2, region r2
      |    WHERE l2.l_partkey = p.p_partkey
      |      AND s2.s_suppkey = l2.l_suppkey
      |      AND s2.s_nationkey = n2.n_nationkey
      |      AND n2.n_regionkey = r2.r_regionkey)
      |ORDER BY p.p_partkey, s.s_name""".stripMargin

  /** Q18 shape: large-volume orders — HAVING over a grouped sum feeding
    * an IN subquery (decorrelated to a left-semi join on l_orderkey),
    * then the customer/order/lineitem re-aggregation. Quantity sums are
    * integral-valued doubles; summed through decimal for exactness. */
  val q18LargeOrders: Q = (s, dir) => sql(s, dir,
    """SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
      |       o.o_totalprice,
      |       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
      |FROM @customer c, @orders o, @lineitem l
      |WHERE o.o_orderkey IN (
      |    SELECT l_orderkey FROM @lineitem
      |    GROUP BY l_orderkey
      |    HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 250)
      |  AND c.c_custkey = o.o_custkey
      |  AND o.o_orderkey = l.l_orderkey
      |GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
      |ORDER BY o.o_totalprice DESC, o.o_orderkey
      |LIMIT 100""".stripMargin)

  val q18LargeOrdersSql: String =
    """SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
      |       o.o_totalprice,
      |       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
      |FROM customer c, orders o, lineitem l
      |WHERE o.o_orderkey IN (
      |    SELECT l_orderkey FROM lineitem
      |    GROUP BY l_orderkey
      |    HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 250)
      |  AND c.c_custkey = o.o_custkey
      |  AND o.o_orderkey = l.l_orderkey
      |GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
      |ORDER BY o.o_totalprice DESC, o.o_orderkey
      |LIMIT 100""".stripMargin

  /** Q21 shape: suppliers who alone returned items on finalized
    * multi-supplier orders — a correlated EXISTS (another supplier
    * participated: left-semi join) chained with a correlated NOT EXISTS
    * (no other supplier returned: left-anti join), both on l_orderkey.
    * The synthetic schema has no receipt/commit dates, so the "fault"
    * marker is l_returnflag = 'R'. */
  val q21WaitingSupplier: Q = (s, dir) => sql(s, dir,
    """SELECT s.s_name, COUNT(*) AS numwait
      |FROM @supplier s, @lineitem l1, @orders o
      |WHERE s.s_suppkey = l1.l_suppkey
      |  AND o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderstatus = 'F'
      |  AND l1.l_returnflag = 'R'
      |  AND EXISTS (
      |    SELECT 1 FROM @lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM @lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_returnflag = 'R')
      |GROUP BY s.s_name
      |ORDER BY numwait DESC, s.s_name
      |LIMIT 100""".stripMargin)

  val q21WaitingSupplierSql: String =
    """SELECT s.s_name, COUNT(*) AS numwait
      |FROM supplier s, lineitem l1, orders o
      |WHERE s.s_suppkey = l1.l_suppkey
      |  AND o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderstatus = 'F'
      |  AND l1.l_returnflag = 'R'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_returnflag = 'R')
      |GROUP BY s.s_name
      |ORDER BY numwait DESC, s.s_name
      |LIMIT 100""".stripMargin

  /** Q22 shape: well-funded dormant customers per nation — an
    * UNCORRELATED scalar subquery (global positive-balance average,
    * computed decimal-exact so the comparison threshold is bit-identical
    * cross-engine) plus a correlated NOT EXISTS (no order since
    * 2000-06-01 → left-anti join on o_custkey). */
  val q22DormantRich: Q = (s, dir) => sql(s, dir,
    """SELECT n.n_name, COUNT(*) AS n_custs,
      |       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
      |FROM @customer c, @nation n
      |WHERE n.n_nationkey = c.c_nationkey
      |  AND c.c_acctbal > (
      |    SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,4))) / COUNT(*) AS DOUBLE)
      |    FROM @customer c2 WHERE c2.c_acctbal > 0)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM @orders o
      |    WHERE o.o_custkey = c.c_custkey
      |      AND o.o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
      |GROUP BY n.n_name
      |ORDER BY n.n_name""".stripMargin)

  val q22DormantRichSql: String =
    """SELECT n.n_name, COUNT(*) AS n_custs,
      |       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
      |FROM customer c, nation n
      |WHERE n.n_nationkey = c.c_nationkey
      |  AND c.c_acctbal > (
      |    SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,4))) / COUNT(*) AS DOUBLE)
      |    FROM customer c2 WHERE c2.c_acctbal > 0)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey
      |      AND o.o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
      |GROUP BY n.n_name
      |ORDER BY n.n_name""".stripMargin

  /** Q15 shape: top supplier by quarterly revenue — aggregate over a
    * join over an aggregate, with an uncorrelated scalar MAX over the
    * inner aggregate (the "view + max over view" pattern). Revenue sums
    * are EXACT decimals end-to-end (decimal products of exact 2-decimal
    * inputs) so the equality against the max compares exact decimals,
    * never doubles. */
  val q15TopSupplier: Q = (s, dir) => sql(s, dir,
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    SUM((CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(4,2))))) AS total_rev
      |  FROM @lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s.s_suppkey, s.s_name,
      |  CAST(r.total_rev AS DOUBLE) AS total_revenue
      |FROM @supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
      |WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
      |ORDER BY s.s_suppkey""".stripMargin)

  val q15TopSupplierSql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    SUM((CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(4,2))))) AS total_rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s.s_suppkey, s.s_name,
      |  CAST(r.total_rev AS DOUBLE) AS total_revenue
      |FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
      |WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
      |ORDER BY s.s_suppkey""".stripMargin

  /** Q11 shape: value concentration — grouped sums filtered by HAVING
    * against an UNCORRELATED scalar subquery that re-aggregates the
    * same filtered join (the "share of global total" pattern). Both the
    * group sums and the global total are decimal-exact, cast to double
    * before the one IEEE multiply + compare, so the threshold is
    * bit-identical cross-engine. At scale both sides are one keyed
    * shuffle over the same filtered fact; the scalar lands as a
    * broadcast into the HAVING filter. */
  val q11ValueConcentration: Q = (s, dir) => sql(s, dir,
    """SELECT p.p_brand,
      |  CAST(SUM((CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(l.l_quantity AS DECIMAL(14,2)))) AS DOUBLE)
      |    AS total_value
      |FROM @lineitem l, @part p, @supplier s, @nation n
      |WHERE l.l_partkey = p.p_partkey AND l.l_suppkey = s.s_suppkey
      |  AND s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_5'
      |GROUP BY p.p_brand
      |HAVING CAST(SUM((CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(l.l_quantity AS DECIMAL(14,2)))) AS DOUBLE) >
      |  (SELECT CAST(SUM((CAST(l2.l_extendedprice AS DECIMAL(18,2)) * CAST(l2.l_quantity AS DECIMAL(14,2)))) AS DOUBLE) * 0.02
      |   FROM @lineitem l2, @supplier s2, @nation n2
      |   WHERE l2.l_suppkey = s2.s_suppkey AND s2.s_nationkey = n2.n_nationkey
      |     AND n2.n_name = 'NATION_5')
      |ORDER BY total_value DESC, p_brand""".stripMargin)

  val q11ValueConcentrationSql: String =
    """SELECT p.p_brand,
      |  CAST(SUM((CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(l.l_quantity AS DECIMAL(14,2)))) AS DOUBLE)
      |    AS total_value
      |FROM lineitem l, part p, supplier s, nation n
      |WHERE l.l_partkey = p.p_partkey AND l.l_suppkey = s.s_suppkey
      |  AND s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_5'
      |GROUP BY p.p_brand
      |HAVING CAST(SUM((CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(l.l_quantity AS DECIMAL(14,2)))) AS DOUBLE) >
      |  (SELECT CAST(SUM((CAST(l2.l_extendedprice AS DECIMAL(18,2)) * CAST(l2.l_quantity AS DECIMAL(14,2)))) AS DOUBLE) * 0.02
      |   FROM lineitem l2, supplier s2, nation n2
      |   WHERE l2.l_suppkey = s2.s_suppkey AND s2.s_nationkey = n2.n_nationkey
      |     AND n2.n_name = 'NATION_5')
      |ORDER BY total_value DESC, p_brand""".stripMargin

  /** Q20 shape: part-promotion suppliers — a semi join (IN) whose inner
    * is a grouped aggregate filtered by a CORRELATED scalar subquery on
    * the group key (supplier-part shipped quantity > 30% of that part's
    * total). The correlation is written in the WHERE of a derived table
    * (not HAVING) so both engines decorrelate it the same way: Catalyst
    * turns the inner scalar into an aggregate joined on l_partkey — the
    * same key the outer grouping already shuffled on, so the
    * partitioning is reused. Quantity sums go through decimal, compared
    * as doubles (one IEEE multiply on the threshold side). */
  val q20PartPromotion: Q = (s, dir) => sql(s, dir,
    """SELECT s.s_name, s.s_acctbal
      |FROM @supplier s, @nation n
      |WHERE s.s_nationkey = n.n_nationkey
      |  AND s.s_suppkey IN (
      |    SELECT g.l_suppkey FROM (
      |      SELECT l1.l_suppkey, l1.l_partkey,
      |        CAST(SUM(CAST(l1.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
      |      FROM @lineitem l1, @part p
      |      WHERE p.p_partkey = l1.l_partkey AND p.p_name LIKE 'small%'
      |        AND l1.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |        AND l1.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |      GROUP BY l1.l_suppkey, l1.l_partkey) g
      |    WHERE g.qty > 0.3 * (
      |      SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,4))) AS DOUBLE)
      |      FROM @lineitem l2
      |      WHERE l2.l_partkey = g.l_partkey
      |        AND l2.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |        AND l2.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'))
      |ORDER BY s.s_name""".stripMargin)

  val q20PartPromotionSql: String =
    """SELECT s.s_name, s.s_acctbal
      |FROM supplier s, nation n
      |WHERE s.s_nationkey = n.n_nationkey
      |  AND s.s_suppkey IN (
      |    SELECT g.l_suppkey FROM (
      |      SELECT l1.l_suppkey, l1.l_partkey,
      |        CAST(SUM(CAST(l1.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
      |      FROM lineitem l1, part p
      |      WHERE p.p_partkey = l1.l_partkey AND p.p_name LIKE 'small%'
      |        AND l1.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |        AND l1.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |      GROUP BY l1.l_suppkey, l1.l_partkey) g
      |    WHERE g.qty > 0.3 * (
      |      SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,4))) AS DOUBLE)
      |      FROM lineitem l2
      |      WHERE l2.l_partkey = g.l_partkey
      |        AND l2.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |        AND l2.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'))
      |ORDER BY s.s_name""".stripMargin

  /** Q4 shape: order-priority checking — a correlated EXISTS whose inner
    * predicate compares an inner column against an OUTER column through
    * an inequality (`l_shipdate > o_orderdate + 60 days`), not just a
    * key equality: Catalyst must decorrelate it into a left-semi join
    * with a non-equi residual condition on top of the l_orderkey equi
    * key. The synthetic schema has no commit/receipt dates, so the
    * reference's "committed late" marker becomes "shipped more than 60
    * days after order placement" (same plan shape, same quarter window).
    * At scale: one semi-join shuffle on the order key; the quarter
    * filter is pushed to the orders scan before the join. */
  val q4OrderPriority: Q = (s, dir) => sql(s, dir,
    """SELECT o.o_orderpriority, COUNT(*) AS order_count
      |FROM @orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
      |  AND o.o_orderdate < TIMESTAMP '1995-10-01 00:00:00'
      |  AND EXISTS (
      |    SELECT 1 FROM @lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey
      |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o.o_orderpriority
      |ORDER BY o.o_orderpriority""".stripMargin)

  val q4OrderPrioritySql: String =
    """SELECT o.o_orderpriority, COUNT(*) AS order_count
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
      |  AND o.o_orderdate < TIMESTAMP '1995-10-01 00:00:00'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey
      |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o.o_orderpriority
      |ORDER BY o.o_orderpriority""".stripMargin

  def queries: Map[String, Q] = Map(
    "q2_mincost_supplier" -> q2MinCost,
    "q4_order_priority" -> q4OrderPriority,
    "q11_value_concentration" -> q11ValueConcentration,
    "q20_part_promotion" -> q20PartPromotion,
    "q15_top_supplier" -> q15TopSupplier,
    "q18_large_orders" -> q18LargeOrders,
    "q21_waiting_supplier" -> q21WaitingSupplier,
    "q22_dormant_rich" -> q22DormantRich,
  )

  def oracle: Map[String, String] = Map(
    "q2_mincost_supplier" -> q2MinCostSql,
    "q4_order_priority" -> q4OrderPrioritySql,
    "q11_value_concentration" -> q11ValueConcentrationSql,
    "q20_part_promotion" -> q20PartPromotionSql,
    "q15_top_supplier" -> q15TopSupplierSql,
    "q18_large_orders" -> q18LargeOrdersSql,
    "q21_waiting_supplier" -> q21WaitingSupplierSql,
    "q22_dormant_rich" -> q22DormantRichSql,
  )
}
