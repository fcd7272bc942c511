package graft.operators

import graft.Graft
import graft.Graft.Q
import graft.operators.CoreQueries.q6
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cluster-operations diagnostics: the queries an operator of a 100 TB
  * pipeline runs ABOUT the data rather than ON it — key-skew profiling
  * (is this join about to produce a straggler?), sketch-free
  * approximate quantiles (what threshold splits the p99?), and
  * space-filling-curve layout (what clustering key co-locates a 2-D
  * range predicate?). None exist in the reference (its single-node
  * pandas frames never skew); all three are standard ops practice on
  * distributed engines.
  *
  * Numeric policy per CoreQueries: counts stay integral; ratios are one
  * IEEE division of exact integers (bit-identical cross-engine) rounded
  * at 6 dp; histogram edges are a fixed chain of IEEE ops on exact
  * min/max/count scalars, identical on both engines.
  */
object OpsQueries {

  /** E1: hot-key profile of the events stream — per-key counts, each
    * hot key's share of the table, and its skew factor (count / mean
    * count). The number that predicts shuffle stragglers: a skew factor
    * of k means the hottest reducer partition runs ~k× the average, and
    * `skew > ~4` is the usual trigger for salting (qSaltedAgg) or AQE
    * skew-join splitting.
    *
    * Scale: one key-partitioned count (map-side combined), one 2-row
    * global aggregate broadcast back over the per-key counts, then
    * top-10 via TakeOrderedAndProject — no global sort, no driver
    * collect. */
  val e1SkewProfile: Q = (s, dir) => {
    val counts = Graft.table(s, dir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val stats = counts.agg(
      sum(col("cnt")).as("total"), count(lit(1)).as("n_keys"))
    counts.crossJoin(broadcast(stats))
      .select(col("user_id"), col("cnt"),
        round(col("cnt") / col("total"), 6).as("share"),
        round((col("cnt") * col("n_keys")) / col("total"), 6).as("skew"))
      .orderBy(col("cnt").desc, col("user_id"))
      .limit(10)
  }

  val e1SkewProfileSql: String =
    """WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id),
      |     g AS (SELECT SUM(cnt) AS total, COUNT(*) AS n_keys FROM c)
      |SELECT user_id, cnt,
      |       ROUND(cnt / total, 6) AS share,
      |       ROUND((cnt * n_keys) / total, 6) AS skew
      |FROM c, g
      |ORDER BY cnt DESC, user_id
      |LIMIT 10""".stripMargin

  /** E2: approximate quantiles (p50/p90/p99 of event value) from a
    * fixed 1000-bin histogram — the shuffle-cheap alternative to an
    * exact percentile sort at 100 TB. Exact percentiles (a5Percentile)
    * need a full sort or a per-group collect; this needs ONE pass for
    * min/max/count plus one 1000-group aggregate, and the bin counts
    * (≤1000 rows) are trivially mergeable across any number of
    * executors. Error is bounded by one bin width (0.1 % of the value
    * range) — and unlike t-digest/GK sketches the result is fully
    * deterministic, hence oracle-checkable cell-by-cell.
    *
    * The estimate is the LEFT EDGE of the first bin whose cumulative
    * count reaches p·n: edge = min + bin·(max−min)/1000, a fixed chain
    * of IEEE ops on exact scalars — identical cross-engine, no rounding
    * needed. */
  val e2HistQuantile: Q = (s, dir) => {
    val v = Graft.table(s, dir, "events").select(col("value"))
    val stats = v.agg(min("value").as("lo"), max("value").as("hi"),
      count(lit(1)).as("n"))
    val binned = v.crossJoin(broadcast(stats))
      .select(least(floor((col("value") - col("lo")) / (col("hi") - col("lo")) * 1000),
        lit(999)).cast("int").as("bin"), col("lo"), col("hi"), col("n"))
      .groupBy("bin", "lo", "hi", "n").agg(count(lit(1)).as("bc"))
    val cum = binned.select(col("bin"), col("lo"), col("hi"), col("n"),
      sum(col("bc")).over(Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"))
    val ps = s.createDataFrame(Seq(Tuple1(0.5), Tuple1(0.9), Tuple1(0.99)))
      .toDF("p")
    ps.crossJoin(cum)
      .filter(col("cum") >= col("p") * col("n"))
      .groupBy("p")
      .agg(min(col("lo") + col("bin") * (col("hi") - col("lo")) / 1000.0).as("est"))
      .orderBy("p")
  }

  val e2HistQuantileSql: String =
    """WITH g AS (SELECT MIN(value) AS lo, MAX(value) AS hi, COUNT(*) AS n FROM events),
      |     b AS (SELECT LEAST(CAST(FLOOR((value - lo) / (hi - lo) * 1000) AS INTEGER), 999) AS bin,
      |                  lo, hi, n, COUNT(*) AS bc
      |           FROM events, g GROUP BY 1, 2, 3, 4),
      |     c AS (SELECT bin, lo, hi, n,
      |                  SUM(bc) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |           FROM b),
      |     p AS (SELECT CAST(UNNEST([0.5, 0.9, 0.99]) AS DOUBLE) AS p)
      |SELECT p.p, MIN(c.lo + c.bin * (c.hi - c.lo) / 1000.0) AS est
      |FROM p, c
      |WHERE c.cum >= p.p * c.n
      |GROUP BY p.p
      |ORDER BY p.p""".stripMargin

  /** Interleave the low 16 bits of two int columns into a 32-bit
    * Morton (Z-order) value — built as 16 unrolled shift/mask terms on
    * longs (disjoint bits, so + ≡ OR), all codegen-friendly built-ins,
    * no higher-order-function interpreter in the hot path. */
  private def zValue(x: Column, y: Column): Column =
    (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
      acc +
        shiftleft(shiftright(x.cast("long"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1)
    }

  /** K8: Z-order layout profile — Morton-interleave (l_partkey,
    * l_suppkey) and report the 64 top-level z-ranges (count + z span
    * each). This is the clustering key a 100 TB table would SORT BY so
    * a 2-D range predicate (part range × supplier range) prunes files
    * on BOTH dimensions instead of one: writing the fact table ordered
    * by z gives every file a tight min/max on both keys, and the
    * per-bucket counts here are exactly the file-size balance check an
    * operator runs before committing to the layout.
    *
    * Scale: one 64-group aggregate over a projection of the fact scan;
    * the z expression is pure per-row integer arithmetic inside
    * whole-stage codegen. */
  val k8Zorder: Q = (s, dir) => {
    Graft.table(s, dir, "lineitem")
      .select(zValue(col("l_partkey"), col("l_suppkey")).as("z"))
      .groupBy(shiftright(col("z"), 26).as("zbucket"))
      .agg(count(lit(1)).as("n"), min("z").as("z_min"), max("z").as("z_max"))
      .orderBy("zbucket")
  }

  val k8ZorderSql: String =
    """WITH z AS (
      |  SELECT CAST((SELECT SUM((((l_partkey >> i) & 1)::BIGINT << (2 * i))
      |                        + (((l_suppkey >> i) & 1)::BIGINT << (2 * i + 1)))
      |               FROM range(16) t(i)) AS BIGINT) AS z
      |  FROM lineitem)
      |SELECT z >> 26 AS zbucket, COUNT(*) AS n, MIN(z) AS z_min, MAX(z) AS z_max
      |FROM z
      |GROUP BY 1
      |ORDER BY zbucket""".stripMargin

  /** G2: weighted PageRank (2 unrolled iterations, damping 0.85) over
    * the international trade graph — nodes are nations, an edge
    * src→dst with weight w means suppliers of `src` shipped w line
    * items to customers of `dst`. The only iterative-graph shape the
    * engine lacked beyond label propagation (d6): rank mass flows
    * along WEIGHTED out-edges each round instead of a min-label
    * broadcast.
    *
    * Scale: the expensive step is building the edge list (the q7-style
    * fact join, one keyed shuffle per join) — each iteration is then
    * two keyed shuffles over the EDGE LIST only (join ranks on src,
    * aggregate contributions on dst), the same shape Pregel-style
    * engines run per superstep; nothing is collected to the driver and
    * the unrolled 2 iterations reuse the materialized edge frame.
    *
    * Float determinism: per-edge contributions are snapped to an
    * integer 1e-12 grid — floor(r·w·1e12/outw + 0.5) is a fixed chain
    * of IEEE ops on exact operands, so the per-edge longs are
    * bit-identical cross-engine and their SUM is order-independent
    * (pure integer adds). Each new rank is then one fixed IEEE chain
    * over that exact integer — no decimal casts of doubles (those
    * disagree on virtual ties; see MarketQueries numeric policy). */
  /** Supplier-nation → customer-nation trade graph shared by g2/g4:
    * edge (src, dst, w) = number of lineitems shipped from a supplier
    * in src to a customer in dst (the q7-style fact join, one keyed
    * shuffle per join, both nation sides broadcast). */
  private def nationEdges(s: SparkSession, dir: String): DataFrame = {
    val nat = Graft.table(s, dir, "nation")
    Graft.materialize(
      Graft.table(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        .join(Graft.table(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Graft.table(s, dir, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(Graft.table(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat.select(col("n_nationkey").as("sk"), col("n_name").as("src"))),
          col("s_nationkey") === col("sk"))
        .join(broadcast(nat.select(col("n_nationkey").as("ck"), col("n_name").as("dst"))),
          col("c_nationkey") === col("ck"))
        .groupBy("src", "dst").agg(count(lit(1)).as("w")))
  }

  private val nationEdgesCte: String =
    """edges AS (
      |  SELECT n1.n_name AS src, n2.n_name AS dst, COUNT(*) AS w
      |  FROM lineitem l, orders o, customer c, supplier s, nation n1, nation n2
      |  WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
      |    AND l.l_suppkey = s.s_suppkey
      |    AND s.s_nationkey = n1.n_nationkey AND c.c_nationkey = n2.n_nationkey
      |  GROUP BY 1, 2)""".stripMargin

  /** Symmetrized (self-loop-free, weight-merged) view of [[nationEdges]],
    * shared by g4's label propagation and g5's BFS. */
  private def undNationEdges(s: SparkSession, dir: String): DataFrame = {
    // Materialize BEFORE the self-union: the symmetrizing union refers
    // to the edge frame twice, and un-checkpointed that re-executes the
    // full fact-table join once per side (the d6_dup_clusters lesson).
    val e = Graft.materialize(nationEdges(s, dir))
    Graft.materialize(
      e.select(col("src").as("u"), col("dst").as("v"), col("w"))
        .unionByName(e.select(col("dst").as("u"), col("src").as("v"), col("w")))
        .filter(col("u") =!= col("v"))
        .groupBy("u", "v").agg(sum("w").as("w")))
  }

  private val undNationEdgesCte: String =
    """und AS (
      |  SELECT u, v, SUM(w) AS w FROM (
      |    SELECT src AS u, dst AS v, w FROM edges
      |    UNION ALL SELECT dst, src, w FROM edges)
      |  WHERE u <> v GROUP BY u, v)""".stripMargin

  val g2Pagerank: Q = (s, dir) => {
    // The nation-edge aggregation is a full fact-table join; it feeds
    // nodes, out-weights, AND both iterations' contribution joins, so
    // materialize it once (measured: the un-checkpointed plan re-ran
    // the 60 M-row join ~5x at the sf10 replica).
    val edges = Graft.materialize(nationEdges(s, dir))
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst"))).distinct()
    val cnt = nodes.agg(count(lit(1)).as("n"))
    val outw = edges.groupBy(col("src").as("ow_src")).agg(sum("w").as("outw"))

    def iterate(ranks: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      // dangling nodes (no out-edges — nations with customers but no
      // suppliers) redistribute their mass uniformly: each contributes
      // the grid-snapped integer floor(r·1e12/n + 0.5) to EVERY node,
      // summed exactly as longs — without this the danglers' mass
      // simply vanishes and Σr decays per iteration
      val dang = ranks
        .join(outw, col("node") === col("ow_src"), "left_anti")
        .crossJoin(broadcast(cnt))
        .agg(coalesce(sum(
          floor(col("r") * lit(1e12) / col("n").cast("double") + lit(0.5))
            .cast("long")), lit(0L)).as("dmass"))
      val contribs = edges
        .join(broadcast(outw), col("src") === col("ow_src"))
        .join(ranks.select(col("node").as("r_node"), col("r")), col("src") === col("r_node"))
        .select(col("dst"),
          floor(col("r") * col("w") * lit(1e12) / col("outw") + lit(0.5))
            .cast("long").as("ci"))
        .groupBy("dst").agg(sum("ci").as("mass"))
      nodes.crossJoin(broadcast(cnt)).crossJoin(broadcast(dang))
        .join(contribs, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(0.15) / col("n").cast("double") +
            lit(0.85) * ((coalesce(col("mass"), lit(0L)) + col("dmass")) / lit(1e12))).as("r"))
    }

    val r0 = nodes.crossJoin(broadcast(cnt))
      .select(col("node"), (lit(1.0) / col("n").cast("double")).as("r"))
    iterate(iterate(r0)).orderBy(col("r").desc, col("node"))
  }

  val g2PagerankSql: String =
    "WITH " + nationEdgesCte +
    """,
      |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      |cnt AS (SELECT COUNT(*) AS n FROM nodes),
      |ow AS (SELECT src, SUM(w) AS outw FROM edges GROUP BY src),
      |r0 AS (SELECT node, 1.0 / CAST(n AS DOUBLE) AS r FROM nodes CROSS JOIN cnt),
      |d1 AS (SELECT COALESCE(CAST(SUM(CAST(FLOOR(r.r * 1e12 / CAST(n AS DOUBLE) + 0.5) AS BIGINT)) AS BIGINT), 0) AS dmass
      |       FROM r0 r CROSS JOIN cnt WHERE r.node NOT IN (SELECT src FROM ow)),
      |c1 AS (SELECT e.dst, CAST(SUM(CAST(FLOOR(r.r * e.w * 1e12 / o.outw + 0.5) AS BIGINT)) AS BIGINT) AS mass
      |       FROM edges e JOIN ow o ON e.src = o.src JOIN r0 r ON r.node = e.src
      |       GROUP BY e.dst),
      |r1 AS (SELECT node, 0.15 / CAST(n AS DOUBLE) + 0.85 * ((COALESCE(mass, 0) + dmass) / 1e12) AS r
      |       FROM nodes CROSS JOIN cnt CROSS JOIN d1 LEFT JOIN c1 ON node = c1.dst),
      |d2 AS (SELECT COALESCE(CAST(SUM(CAST(FLOOR(r.r * 1e12 / CAST(n AS DOUBLE) + 0.5) AS BIGINT)) AS BIGINT), 0) AS dmass
      |       FROM r1 r CROSS JOIN cnt WHERE r.node NOT IN (SELECT src FROM ow)),
      |c2 AS (SELECT e.dst, CAST(SUM(CAST(FLOOR(r.r * e.w * 1e12 / o.outw + 0.5) AS BIGINT)) AS BIGINT) AS mass
      |       FROM edges e JOIN ow o ON e.src = o.src JOIN r1 r ON r.node = e.src
      |       GROUP BY e.dst),
      |r2 AS (SELECT node, 0.15 / CAST(n AS DOUBLE) + 0.85 * ((COALESCE(mass, 0) + dmass) / 1e12) AS r
      |       FROM nodes CROSS JOIN cnt CROSS JOIN d2 LEFT JOIN c2 ON node = c2.dst)
      |SELECT node, r FROM r2 ORDER BY r DESC, node""".stripMargin

  /** G4: community detection by synchronous weighted label propagation
    * over the undirected nation trade graph (g2's edges, symmetrized,
    * self-loops dropped) — 3 unrolled rounds of "adopt the label with
    * the highest incident edge weight, ties to the lexicographically
    * smallest label", seeded with each node's own name. Deterministic
    * end to end (integer weights, total tie order), unlike the
    * random-order LPA in the literature — a cluster run must reproduce.
    * Scale shape: each round is ONE keyed join of the edge list against
    * the 1-row-per-node label frame plus one aggregation — the same
    * per-superstep cost as g2, nothing driver-side. */
  val g4LabelProp: Q = (s, dir) => {
    val und = undNationEdges(s, dir)
    var labels = und.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    val rk = Window.partitionBy("u").orderBy(col("wsum").desc, col("lbl"))
    for (_ <- 1 to 3) {
      val votes = und
        .join(labels.withColumnRenamed("node", "v"), "v")
        .groupBy("u", "lbl").agg(sum("w").as("wsum"))
      labels = Graft.materialize(
        votes.withColumn("rk", row_number().over(rk)).filter(col("rk") === 1)
          .select(col("u").as("node"), col("lbl")))
    }
    labels.select(col("node"), col("lbl").as("label")).orderBy("node")
  }

  val g4LabelPropSql: String = {
    val round = (r: Int) =>
      s""",
        |v$r AS (
        |  SELECT e.u, lb.lbl, SUM(e.w) AS wsum
        |  FROM und e JOIN l${r - 1} lb ON lb.node = e.v GROUP BY 1, 2),
        |l$r AS (
        |  SELECT u AS node, lbl FROM (
        |    SELECT u, lbl,
        |      row_number() OVER (PARTITION BY u ORDER BY wsum DESC, lbl) AS rk
        |    FROM v$r) WHERE rk = 1)""".stripMargin
    "WITH " + nationEdgesCte + ",\n" + undNationEdgesCte +
      """,
        |l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM und)""".stripMargin +
      (1 to 3).map(round).mkString +
      """
        |SELECT node, lbl AS label FROM l3 ORDER BY node""".stripMargin
  }


  /** G5: multi-source BFS hop distance — how many trade-graph hops each
    * nation sits from the nearest ASIA nation (seeds at distance 0),
    * 3 unrolled min-plus relaxation rounds: the reachability/radius
    * primitive that complements g2 (mass flow), g4 (communities), and
    * the CC family (membership). Each round is one keyed join of the
    * edge list against the frontier distances + one min-aggregation —
    * the Pregel superstep shape; unreached nodes stay absent (no
    * sentinel ∞ row to keep dense at scale). */
  val g5BfsHops: Q = (s, dir) => {
    val und = undNationEdges(s, dir)
    val seeds = und.select(col("u").as("node")).distinct()
      .join(Graft.table(s, dir, "nation")
          .select(col("n_name").as("node"), col("n_regionkey")), "node")
      .join(broadcast(Graft.table(s, dir, "region")
          .filter(col("r_name") === "ASIA").select(col("r_regionkey").as("n_regionkey"))),
        "n_regionkey")
      .select(col("node"), lit(0L).as("dist"))
    var dist = Graft.materialize(seeds)
    for (_ <- 1 to 3) {
      val relaxed = und.join(dist.withColumnRenamed("node", "v"), "v")
        .select(col("u").as("node"), (col("dist") + 1L).as("dist"))
      dist = Graft.materialize(
        dist.unionByName(relaxed).groupBy("node").agg(min("dist").as("dist")))
    }
    dist.orderBy("node")
  }

  val g5BfsHopsSql: String = {
    val round = (r: Int) =>
      s""",
        |d$r AS (
        |  SELECT node, MIN(dist) AS dist FROM (
        |    SELECT node, dist FROM d${r - 1}
        |    UNION ALL
        |    SELECT e.u AS node, d.dist + 1 AS dist
        |    FROM und e JOIN d${r - 1} d ON d.node = e.v)
        |  GROUP BY node)""".stripMargin
    "WITH " + nationEdgesCte + ",\n" + undNationEdgesCte +
      """,
        |seeds AS (
        |  SELECT DISTINCT und.u AS node FROM und
        |  JOIN nation n ON n.n_name = und.u
        |  JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'ASIA'),
        |d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds)""".stripMargin +
      (1 to 3).map(round).mkString +
      """
        |SELECT node, dist FROM d3 ORDER BY node""".stripMargin
  }

  /** G6: single-source weighted shortest paths (≤4 hops) — Bellman-Ford
    * min-plus relaxation from the lexicographically first node (a
    * deterministic seed that survives any regeneration of the synthetic
    * nation names) over the undirected trade graph, edge cost = the
    * trade weight itself (a deterministic
    * integer cost; "cheapest heavily-audited route" semantics is the
    * caller's remap). Exactly g5's superstep shape — one keyed join +
    * one min-aggregation per round, frontier stays sparse, nothing
    * driver-side — but carrying an additive integer distance instead of
    * a hop count, so the same loop is the template for any weighted
    * reachability at cluster scale. 4 rounds bounds the answer to paths
    * of ≤4 edges (documented, deterministic — NOT run-to-fixpoint, so
    * the round count is part of the operator's contract, mirrored
    * exactly by the oracle's 4-step relaxation). */
  val g6Sssp: Q = (s, dir) => {
    val und = undNationEdges(s, dir)
    var dist = Graft.materialize(
      und.agg(min(col("u")).as("node"))
        .select(col("node"), lit(0L).as("dist")))
    for (_ <- 1 to 4) {
      val relaxed = und.join(dist.withColumnRenamed("node", "v"), "v")
        .select(col("u").as("node"), (col("dist") + col("w")).as("dist"))
      dist = Graft.materialize(
        dist.unionByName(relaxed).groupBy("node").agg(min("dist").as("dist")))
    }
    dist.orderBy("node")
  }

  val g6SsspSql: String = {
    val round = (r: Int) =>
      s""",
        |s$r AS (
        |  SELECT node, MIN(dist) AS dist FROM (
        |    SELECT node, dist FROM s${r - 1}
        |    UNION ALL
        |    SELECT e.u AS node, d.dist + CAST(e.w AS BIGINT) AS dist
        |    FROM und e JOIN s${r - 1} d ON d.node = e.v)
        |  GROUP BY node)""".stripMargin
    "WITH " + nationEdgesCte + ",\n" + undNationEdgesCte +
      """,
        |s0 AS (
        |  SELECT MIN(u) AS node, CAST(0 AS BIGINT) AS dist FROM und)""".stripMargin +
      (1 to 4).map(round).mkString +
      """
        |SELECT node, dist FROM s4 ORDER BY node""".stripMargin
  }

  /** G7: harmonic closeness centrality within 3 hops — for every node,
    * Σ 1/d(n, m) over nodes reachable in ≤3 hops: the "how near is
    * everything" score that complements g2 (flow mass) and g5 (radius
    * from a seed set). All-pairs BFS runs as ONE min-plus loop over a
    * (src, node, dist) frame seeded with every node as its own source —
    * the same keyed-join superstep as g5, with the source id riding
    * along as a grouping key, so V sources cost the same number of
    * rounds as one (each round's join fans out by the edge list, keyed,
    * never cartesian). The 1/d terms snap to DECIMAL(18,12) before the
    * per-node sum, so the harmonic total is order-independent. */
  val g7Closeness: Q = (s, dir) => {
    val und = undNationEdges(s, dir)
    val nodes = und.select(col("u").as("node")).distinct()
    var dist = Graft.materialize(
      nodes.select(col("node").as("src"), col("node"), lit(0L).as("dist")))
    for (_ <- 1 to 3) {
      val relaxed = und.join(dist.withColumnRenamed("node", "v"), "v")
        .select(col("src"), col("u").as("node"), (col("dist") + 1L).as("dist"))
      dist = Graft.materialize(
        dist.unionByName(relaxed).groupBy("src", "node").agg(min("dist").as("dist")))
    }
    dist.filter(col("dist") > 0)
      .withColumn("invd",
        (lit(1.0) / col("dist").cast("double")).cast("decimal(18,12)"))
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("long").as("n_reached"),
        floor(sum(col("invd")).cast("double") * lit(1e6) + lit(0.5)).cast("long")
          .as("h6"))
      .select(col("node"), col("n_reached"), (col("h6") / lit(1e6)).as("harmonic"))
      .orderBy("node")
  }

  val g7ClosenessSql: String = {
    val round = (r: Int) =>
      s""",
        |c$r AS (
        |  SELECT src, node, MIN(dist) AS dist FROM (
        |    SELECT src, node, dist FROM c${r - 1}
        |    UNION ALL
        |    SELECT d.src, e.u AS node, d.dist + 1 AS dist
        |    FROM und e JOIN c${r - 1} d ON d.node = e.v)
        |  GROUP BY src, node)""".stripMargin
    "WITH " + nationEdgesCte + ",\n" + undNationEdgesCte +
      """,
        |c0 AS (
        |  SELECT DISTINCT u AS src, u AS node, CAST(0 AS BIGINT) AS dist FROM und)""".stripMargin +
      (1 to 3).map(round).mkString +
      """
        |SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS n_reached,
        |  CAST(floor(CAST(SUM(CAST(1.0 / dist AS DECIMAL(18,12))) AS DOUBLE) * 1e6 + 0.5) AS BIGINT) / 1e6 AS harmonic
        |FROM c3 WHERE dist > 0
        |GROUP BY src ORDER BY src""".stripMargin
  }

  /** E10: small-file compaction plan — the table-maintenance pass a
    * 100 TB events table needs: per (event_type, day) partition cells
    * (the "files"), bin-pack day-ordered cells into output files of
    * ~5000 rows via bucket = floor(preceding-rows / target). One cell
    * aggregation + one per-type running sum + one plan aggregation —
    * all exact integer arithmetic, and the plan itself (files in, rows
    * out, day span per output file) is the operator's output, exactly
    * what an OPTIMIZE/compaction job would execute. */
  val e10CompactionPlan: Q = (s, dir) => {
    val cells = Graft.table(s, dir, "events")
      .withColumn("day", to_date(expr("timestamp_micros(ts div 1000)")))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n_rows"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    cells
      .withColumn("bucket",
        floor(coalesce(sum(col("n_rows")).over(w), lit(0L)) / lit(5000L)).cast("long"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).cast("long").as("rows_out"),
        min(col("day")).as("day_min"), max(col("day")).as("day_max"))
      .orderBy("event_type", "bucket")
  }

  val e10CompactionPlanSql: String =
    """WITH cells AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_rows
      |  FROM events GROUP BY 1, 2),
      |b AS (
      |  SELECT event_type, day, n_rows,
      |    CAST(FLOOR(COALESCE(SUM(n_rows) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 5000) AS BIGINT) AS bucket
      |  FROM cells)
      |SELECT event_type, bucket, COUNT(*) AS n_files,
      |  CAST(SUM(n_rows) AS BIGINT) AS rows_out,
      |  MIN(day) AS day_min, MAX(day) AS day_max
      |FROM b GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin

  /** E3: column profile of the events table — per-column row/null/
    * distinct counts plus numeric min/max, the schema-drift and
    * data-quality dashboard (Deequ-style profiling) every managed
    * pipeline emits per ingest batch. ONE aggregation pass over the
    * scan computes every metric (Catalyst expands the multi-distinct
    * into one Expand + aggregate, not one scan per column); the stack
    * to (column, metrics) rows happens on the single result row.
    * Deliberately reads all profiled columns — profiling is the one op
    * where "no pruning" is the spec, not a bug. */
  val e3ColumnProfile: Q = (s, dir) => {
    val ev = Graft.table(s, dir, "events")
      .select("event_id", "user_id", "event_type", "value")
    val agg = ev.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("event_id").isNull, 1).otherwise(0)).as("null_event_id"),
      sum(when(col("user_id").isNull, 1).otherwise(0)).as("null_user_id"),
      sum(when(col("event_type").isNull, 1).otherwise(0)).as("null_event_type"),
      sum(when(col("value").isNull, 1).otherwise(0)).as("null_value"),
      countDistinct(col("event_id")).as("d_event_id"),
      countDistinct(col("user_id")).as("d_user_id"),
      countDistinct(col("event_type")).as("d_event_type"),
      countDistinct(col("value")).as("d_value"),
      min(col("event_id")).cast("double").as("min_event_id"),
      max(col("event_id")).cast("double").as("max_event_id"),
      min(col("user_id")).cast("double").as("min_user_id"),
      max(col("user_id")).cast("double").as("max_user_id"),
      round(min(col("value")), 6).as("min_value"),
      round(max(col("value")), 6).as("max_value"))
    val rows = Seq(
      ("event_id", "null_event_id", "d_event_id", Some(("min_event_id", "max_event_id"))),
      ("user_id", "null_user_id", "d_user_id", Some(("min_user_id", "max_user_id"))),
      ("event_type", "null_event_type", "d_event_type", None),
      ("value", "null_value", "d_value", Some(("min_value", "max_value")))).map {
      case (name, nul, dist, mm) =>
        agg.select(lit(name).as("column"), col("n_rows"),
          col(nul).cast("long").as("n_null"), col(dist).as("n_distinct"),
          mm.map(p => col(p._1)).getOrElse(lit(null).cast("double")).as("min_num"),
          mm.map(p => col(p._2)).getOrElse(lit(null).cast("double")).as("max_num"))
    }
    rows.reduce(_ unionByName _).orderBy("column")
  }

  val e3ColumnProfileSql: String =
    """WITH a AS (
      |  SELECT COUNT(*) AS n_rows,
      |    CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_id,
      |    CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id,
      |    CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type,
      |    CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
      |    COUNT(DISTINCT event_id) AS d_event_id,
      |    COUNT(DISTINCT user_id) AS d_user_id,
      |    COUNT(DISTINCT event_type) AS d_event_type,
      |    COUNT(DISTINCT value) AS d_value,
      |    CAST(MIN(event_id) AS DOUBLE) AS min_event_id,
      |    CAST(MAX(event_id) AS DOUBLE) AS max_event_id,
      |    CAST(MIN(user_id) AS DOUBLE) AS min_user_id,
      |    CAST(MAX(user_id) AS DOUBLE) AS max_user_id,
      |    ROUND(MIN(value), 6) AS min_value,
      |    ROUND(MAX(value), 6) AS max_value
      |  FROM events)
      |SELECT 'event_id' AS column, n_rows, null_event_id AS n_null,
      |  d_event_id AS n_distinct, min_event_id AS min_num, max_event_id AS max_num FROM a
      |UNION ALL
      |SELECT 'user_id', n_rows, null_user_id, d_user_id, min_user_id, max_user_id FROM a
      |UNION ALL
      |SELECT 'event_type', n_rows, null_event_type, d_event_type,
      |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM a
      |UNION ALL
      |SELECT 'value', n_rows, null_value, d_value, min_value, max_value FROM a
      |ORDER BY "column"""".stripMargin

  /** E4: Bloom-filter join pruning, measured — build a 2^16-bit / 3-hash
    * Bloom filter over the urgent orders' keys, probe every distinct
    * lineitem orderkey through it, and report the measured
    * false-positive rate next to the occupancy-based prediction
    * (bits_set/m)^k. This is the runtime-filter pattern (Spark's own
    * `spark.sql.optimizer.runtime.bloomFilter`): at 100 TB the bit set
    * broadcasts (8 KiB here) and prunes the big side's shuffle BEFORE
    * the join; the query quantifies exactly how much slips through.
    * Hash family: position_i = md5(i ':' key) — engine-neutral, same
    * family as MinHash/KMV. The probe "all k positions set" is a keyed
    * join on position + a count(*) = k group — no bit-array type needed
    * in either engine. The FP prediction uses only mult/div of exact
    * integers (no transcendentals), so it is bit-identical too. */
  val e4BloomPrune: Q = (s, dir) => {
    val m = 65536
    val k = 3
    def positions(key: Column): Column = array((1 to k).map(i =>
      conv(substring(md5(concat_ws(":", lit(i), key.cast("string"))), 1, 8), 16, 10)
        .cast("long") % m): _*)
    val members = Graft.table(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("key")).distinct()
    val bits = members.select(explode(positions(col("key"))).as("pos")).distinct()
    val bitsM = Graft.materialize(bits)
    val probes = Graft.table(s, dir, "lineitem")
      .select(col("l_orderkey").as("key")).distinct()
    val passed = probes
      .select(col("key"), explode(positions(col("key"))).as("ppos"))
      .join(bitsM, col("ppos") === col("pos"))
      .groupBy("key").agg(count(lit(1)).as("hits"))
      .filter(col("hits") === k)
    val stats = passed.join(members.withColumn("is_member", lit(1L)), Seq("key"), "left")
      .agg(count(lit(1)).as("bloom_pass"),
        sum(coalesce(col("is_member"), lit(0L))).as("true_pos"))
    val counts = probes.agg(count(lit(1)).as("n_probes"))
      .crossJoin(broadcast(members.agg(count(lit(1)).as("n_keys"))))
      // members that never appear in lineitem cannot be probed; the
      // no-false-negative guarantee is "every PROBED member passes",
      // so the baseline is |members ∩ probes|, not |members|
      .crossJoin(broadcast(probes.join(members, Seq("key"), "left_semi")
        .agg(count(lit(1)).as("member_probes"))))
    val nBits = bitsM.agg(count(lit(1)).as("bits_set"))
    counts.crossJoin(broadcast(stats)).crossJoin(broadcast(nBits))
      .select(
        col("n_keys").cast("long").as("n_keys"),
        col("n_probes").cast("long").as("n_probes"),
        col("member_probes").cast("long").as("member_probes"),
        col("bits_set").cast("long").as("bits_set"),
        col("bloom_pass").cast("long").as("bloom_pass"),
        col("true_pos").cast("long").as("true_pos"),
        (col("bloom_pass") - col("true_pos")).cast("long").as("false_pos"),
        q6((col("bloom_pass") - col("true_pos")).cast("double") /
          (col("n_probes") - col("member_probes"))).as("fp_rate"),
        q6(col("bits_set").cast("double") / m * (col("bits_set").cast("double") / m) *
          (col("bits_set").cast("double") / m)).as("fp_predicted"))
  }

  val e4BloomPruneSql: String =
    """WITH members AS (
      |  SELECT DISTINCT o_orderkey AS key FROM orders
      |  WHERE o_orderpriority = '1-URGENT'),
      |bits AS (
      |  SELECT DISTINCT
      |    CAST(('0x' || substring(md5(i || ':' || CAST(key AS VARCHAR)), 1, 8)) AS BIGINT) % 65536 AS pos
      |  FROM members, UNNEST([1, 2, 3]) AS t(i)),
      |probes AS (SELECT DISTINCT l_orderkey AS key FROM lineitem),
      |probe_pos AS (
      |  SELECT key,
      |    CAST(('0x' || substring(md5(i || ':' || CAST(key AS VARCHAR)), 1, 8)) AS BIGINT) % 65536 AS pos
      |  FROM probes, UNNEST([1, 2, 3]) AS t(i)),
      |passed AS (
      |  SELECT key FROM probe_pos JOIN bits USING (pos)
      |  GROUP BY key HAVING COUNT(*) = 3),
      |stats AS (
      |  SELECT COUNT(*) AS bloom_pass,
      |    CAST(SUM(CASE WHEN m.key IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS true_pos
      |  FROM passed p LEFT JOIN members m USING (key)),
      |counts AS (
      |  SELECT (SELECT COUNT(*) FROM members) AS n_keys,
      |         (SELECT COUNT(*) FROM probes) AS n_probes,
      |         (SELECT COUNT(*) FROM probes p JOIN members m USING (key)) AS member_probes,
      |         (SELECT COUNT(*) FROM bits) AS bits_set)
      |SELECT CAST(n_keys AS BIGINT) AS n_keys, CAST(n_probes AS BIGINT) AS n_probes,
      |  CAST(member_probes AS BIGINT) AS member_probes,
      |  CAST(bits_set AS BIGINT) AS bits_set,
      |  CAST(bloom_pass AS BIGINT) AS bloom_pass, true_pos,
      |  CAST(bloom_pass - true_pos AS BIGINT) AS false_pos,
      |  floor(CAST(bloom_pass - true_pos AS DOUBLE) / (n_probes - member_probes) * 1e6 + 0.5) / 1e6 AS fp_rate,
      |  floor(CAST(bits_set AS DOUBLE) / 65536 * (CAST(bits_set AS DOUBLE) / 65536) *
      |        (CAST(bits_set AS DOUBLE) / 65536) * 1e6 + 0.5) / 1e6 AS fp_predicted
      |FROM counts, stats""".stripMargin

  /** E5: zone-map (min/max statistics) pruning profile — the same
    * lineitem rows under TWO layouts, with per-zone min/max price and
    * the prunable flag for the predicate `l_extendedprice > 55000`:
    *
    *  - `by_month` (zone = ship month): every zone spans nearly the
    *    full price range, so NOTHING prunes — the honest result for
    *    stats on a column uncorrelated with the layout key;
    *  - `by_price` (zone = 84 equal-frequency buckets of the price
    *    order): most zones prune, quantifying what re-clustering by
    *    the predicate column buys (the Z-order/liquid-clustering
    *    argument, 1-D case; k8Zorder is the 2-D profile).
    *
    * The data-skipping math behind every columnar format's footer
    * stats. The by_price layout needs a GLOBAL equal-frequency
    * bucketing — `ntile` over an unpartitioned window funnels the full
    * table through one task (measured 13× superlinear at sf1), so the
    * zone ids come from [[graft.functions.GlobalRank.withNtile]]:
    * range-repartition on the price order + per-partition rank offsets,
    * bit-identical to the window `ntile` (the oracle still uses it) and
    * parallel at any scale — the distributed analogue of what a real
    * re-clustering write (`repartitionByRange(price)`) pays. */
  val e5ZonemapPrune: Q = (s, dir) => {
    val threshold = 55000.0
    val nZones = 84
    val li = Graft.table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").as("price"), col("l_shipdate"))
    val byMonth = li.select(lit("by_month").as("layout"),
      (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("long").as("zone"),
      col("price"))
    val byPrice = graft.functions.GlobalRank.withNtile(
        li.select(col("price"), col("l_orderkey"), col("l_linenumber")),
        "zone", nZones,
        col("price"), col("l_orderkey"), col("l_linenumber"))
      .select(lit("by_price").as("layout"), col("zone"), col("price"))
    byMonth.unionByName(byPrice)
      .groupBy("layout", "zone")
      .agg(count(lit(1)).as("n_rows"),
        min(col("price")).as("min_price"),
        max(col("price")).as("max_price"))
      .select(col("layout"), col("zone"), col("n_rows").cast("long").as("n_rows"),
        (floor(col("min_price") * lit(1e2) + lit(0.5)) / lit(1e2)).as("min_price"),
        (floor(col("max_price") * lit(1e2) + lit(0.5)) / lit(1e2)).as("max_price"),
        (col("max_price") <= threshold).cast("int").cast("long").as("prunable"))
      .orderBy("layout", "zone")
  }

  val e5ZonemapPruneSql: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_linenumber, l_extendedprice AS price, l_shipdate
      |  FROM lineitem),
      |both_layouts AS (
      |  SELECT 'by_month' AS layout,
      |    CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS zone, price
      |  FROM li
      |  UNION ALL
      |  SELECT 'by_price' AS layout,
      |    CAST(ntile(84) OVER (ORDER BY price, l_orderkey, l_linenumber) AS BIGINT) AS zone,
      |    price
      |  FROM li),
      |z AS (
      |  SELECT layout, zone, COUNT(*) AS n_rows,
      |    MIN(price) AS min_price, MAX(price) AS max_price
      |  FROM both_layouts GROUP BY 1, 2)
      |SELECT layout, zone, CAST(n_rows AS BIGINT) AS n_rows,
      |  floor(min_price * 1e2 + 0.5) / 1e2 AS min_price,
      |  floor(max_price * 1e2 + 0.5) / 1e2 AS max_price,
      |  CAST(CASE WHEN max_price <= 55000.0 THEN 1 ELSE 0 END AS BIGINT) AS prunable
      |FROM z ORDER BY layout, zone""".stripMargin

  /** E7: referential-integrity audit of the full star schema — for each
    * child→parent edge, the child row count, null-key count, and orphan
    * count (non-null key with no parent row), with the orphan share.
    * The pipeline-health query run before trusting any join: an orphan
    * share > 0 silently deletes rows from every inner join downstream.
    * Shape: one left join per edge against the DISTINCT parent keys
    * (dims broadcast; the two lineitem edges are keyed joins that AQE
    * handles), each reduced to a one-row summary before the 7-row
    * union. All-zero orphans is the healthy result, and the point. */
  val e7FkAudit: Q = (s, dir) => {
    def edge(rel: String, child: org.apache.spark.sql.DataFrame, key: String,
        parent: org.apache.spark.sql.DataFrame, pkey: String) = {
      val p = parent.select(col(pkey).as("__pk")).distinct()
      child.select(col(key).as("__k"))
        .join(p, col("__k") === col("__pk"), "left")
        .agg(count(lit(1)).as("n_child"),
          sum(when(col("__k").isNull, 1L).otherwise(0L)).as("n_null"),
          sum(when(col("__k").isNotNull && col("__pk").isNull, 1L).otherwise(0L)).as("n_orphan"))
        .select(lit(rel).as("relation"),
          col("n_child").cast("long").as("n_child"),
          col("n_null").cast("long").as("n_null"),
          col("n_orphan").cast("long").as("n_orphan"),
          q6(col("n_orphan").cast("double") / col("n_child")).as("orphan_share"))
    }
    def t(n: String) = Graft.table(s, dir, n)
    Seq(
      edge("lineitem->orders", t("lineitem"), "l_orderkey", t("orders"), "o_orderkey"),
      edge("lineitem->part", t("lineitem"), "l_partkey", t("part"), "p_partkey"),
      edge("lineitem->supplier", t("lineitem"), "l_suppkey", t("supplier"), "s_suppkey"),
      edge("orders->customer", t("orders"), "o_custkey", t("customer"), "c_custkey"),
      edge("customer->nation", t("customer"), "c_nationkey", t("nation"), "n_nationkey"),
      edge("supplier->nation", t("supplier"), "s_nationkey", t("nation"), "n_nationkey"),
      edge("nation->region", t("nation"), "n_regionkey", t("region"), "r_regionkey"))
      .reduce(_ unionByName _)
      .orderBy("relation")
  }

  val e7FkAuditSql: String = {
    def edge(rel: String, child: String, key: String, parent: String, pkey: String) =
      s"""SELECT '$rel' AS relation, COUNT(*) AS n_child,
         |  CAST(SUM(CASE WHEN c.$key IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  CAST(SUM(CASE WHEN c.$key IS NOT NULL AND p.$pkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan,
         |  floor(CAST(SUM(CASE WHEN c.$key IS NOT NULL AND p.$pkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / COUNT(*) * 1e6 + 0.5) / 1e6 AS orphan_share
         |FROM $child c LEFT JOIN (SELECT DISTINCT $pkey FROM $parent) p
         |  ON c.$key = p.$pkey""".stripMargin
    Seq(
      edge("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      edge("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      edge("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      edge("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
      edge("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      edge("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
      edge("nation->region", "nation", "n_regionkey", "region", "r_regionkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY relation")
  }

  /** E8: functional-dependency audit — for each candidate FD
    * determinant → dependent, the number of determinant keys, how many
    * map to MORE than one dependent value (violations), and the share.
    * The profiling query behind schema inference and "can I use this as
    * a join key" decisions; exact FDs (key → attribute) must audit to
    * zero, and the deliberately-false candidates measure real fan-out.
    * Shape: one countDistinct aggregation per FD (partial-agg friendly),
    * reduced to a one-row summary before the 5-row union. */
  val e8FdAudit: Q = (s, dir) => {
    def fd(rel: String, t: org.apache.spark.sql.DataFrame,
        det: String, dep: String) =
      t.groupBy(col(det)).agg(countDistinct(col(dep)).as("nd"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_violating"))
        .select(lit(rel).as("fd"), col("n_keys").cast("long").as("n_keys"),
          col("n_violating").cast("long").as("n_violating"),
          q6(col("n_violating").cast("double") / col("n_keys")).as("violation_share"))
    def t(n: String) = Graft.table(s, dir, n)
    Seq(
      fd("nation.key->name", t("nation"), "n_nationkey", "n_name"),
      fd("customer.key->name", t("customer"), "c_custkey", "c_name"),
      fd("customer.nation->segment", t("customer"), "c_nationkey", "c_mktsegment"),
      fd("orders.cust->priority", t("orders"), "o_custkey", "o_orderpriority"),
      fd("documents.source->lang", t("documents"), "source", "lang"))
      .reduce(_ unionByName _)
      .orderBy("fd")
  }

  val e8FdAuditSql: String = {
    def fd(rel: String, table: String, det: String, dep: String) =
      s"""SELECT '$rel' AS fd, COUNT(*) AS n_keys,
         |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
         |  floor(CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |        / COUNT(*) * 1e6 + 0.5) / 1e6 AS violation_share
         |FROM (SELECT $det, COUNT(DISTINCT $dep) AS nd FROM $table GROUP BY $det)""".stripMargin
    Seq(
      fd("nation.key->name", "nation", "n_nationkey", "n_name"),
      fd("customer.key->name", "customer", "c_custkey", "c_name"),
      fd("customer.nation->segment", "customer", "c_nationkey", "c_mktsegment"),
      fd("orders.cust->priority", "orders", "o_custkey", "o_orderpriority"),
      fd("documents.source->lang", "documents", "source", "lang"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY fd")
  }

  def queries: Map[String, Q] = Map(
    "e8_fd_audit" -> e8FdAudit,
    "e7_fk_audit" -> e7FkAudit,
    "e1_skew_profile" -> e1SkewProfile,
    "e2_hist_quantile" -> e2HistQuantile,
    "e3_column_profile" -> e3ColumnProfile,
    "e4_bloom_prune" -> e4BloomPrune,
    "e5_zonemap_prune" -> e5ZonemapPrune,
    "k8_zorder" -> k8Zorder,
    "g2_pagerank" -> g2Pagerank,
    "g4_label_prop" -> g4LabelProp,
    "g5_bfs_hops" -> g5BfsHops,
    "g6_sssp" -> g6Sssp,
    "g7_closeness" -> g7Closeness,
    "e10_compaction_plan" -> e10CompactionPlan,
  )

  def oracle: Map[String, String] = Map(
    "e8_fd_audit" -> e8FdAuditSql,
    "e7_fk_audit" -> e7FkAuditSql,
    "e1_skew_profile" -> e1SkewProfileSql,
    "e2_hist_quantile" -> e2HistQuantileSql,
    "e3_column_profile" -> e3ColumnProfileSql,
    "e4_bloom_prune" -> e4BloomPruneSql,
    "e5_zonemap_prune" -> e5ZonemapPruneSql,
    "k8_zorder" -> k8ZorderSql,
    "g2_pagerank" -> g2PagerankSql,
    "g4_label_prop" -> g4LabelPropSql,
    "g5_bfs_hops" -> g5BfsHopsSql,
    "g6_sssp" -> g6SsspSql,
    "g7_closeness" -> g7ClosenessSql,
    "e10_compaction_plan" -> e10CompactionPlanSql,
  )
}
