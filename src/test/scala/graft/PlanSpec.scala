package graft

import graft.io.Bucketing
import graft.operators.{CoreQueries, ExtendedQueries, TsQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the optimizations the engine is designed
  * around must actually appear in the plans (pushdown, pruning,
  * broadcast, partial aggregation, top-K, single-shuffle windows,
  * bucketed shuffle-free joins). */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Every typed group kernel in `df` gets its rows sorted by Spark
    * (`flatMapSortedGroups`): the order is part of the Sort after the key
    * shuffle, so no task buffers and sorts a group itself. */
  private def assertSortedGroups(df: DataFrame): Unit = {
    val kernels = df.queryExecution.sparkPlan.collect {
      case m: org.apache.spark.sql.execution.MapGroupsExec => m
    }
    assert(kernels.nonEmpty, s"expected a group kernel:\n${df.queryExecution.sparkPlan}")
    kernels.foreach(k => assert(k.dataOrder.nonEmpty, s"unsorted group kernel:\n$k"))
  }

  test("PlanDump.normalize: one query built twice in a session dumps the same text") {
    def dump(): String = graft.operators.CohortQueries.f19KaplanMeier(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val (a, b) = (dump(), dump())
    assert(a != b, "two builds should differ in lambda names and counters before masking")
    assert(a.contains("$$Lambda$") && a.contains("plan_id="), a)
    assert(PlanDump.normalize(a) == PlanDump.normalize(b))
  }

  test("q1: filter pushed to parquet scan, schema pruned, partial agg") {
    val p = plan(CoreQueries.q1Agg(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_orderkey"), "scan should prune unused columns")
    assert("HashAggregate".r.findAllIn(p).length >= 2, "expect partial+final agg")
  }

  test("q3: dimension tables broadcast, top-K plans as TakeOrderedAndProject") {
    val p = plan(CoreQueries.q3Join(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("SortMergeJoin"),
      "sf-scale dims must broadcast, not sort-merge")
  }

  test("k_top_volume: partial top-K, no global sort of the input") {
    val p = plan(CoreQueries.kTopVolume(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("w1 log returns: exactly one exchange (the series-key shuffle)") {
    val p = plan(TsQueries.w1LogReturns(spark, sf))
    val exchanges = "Exchange".r.findAllIn(p).length -
      "BroadcastExchange".r.findAllIn(p).length
    // one hashpartitioning exchange for the window + one range for orderBy
    assert(exchanges <= 2, s"unexpected extra shuffles:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"))
  }

  test("q_semi_join plans as a semi join (no fan-out)") {
    val p = plan(ExtendedQueries.qSemiJoin(spark, sf))
    assert(p.contains("LeftSemi"), s"expected a semi join:\n$p")
  }

  test("q_range_band: non-equi join against the tiny dim is broadcast NLJ") {
    val p = plan(ExtendedQueries.qRangeBand(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), s"expected BNLJ:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_cube: one Expand + one aggregation pass, not four scans") {
    val p = plan(ExtendedQueries.qCube(spark, sf))
    assert("Expand".r.findAllIn(p).length == 1)
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"cube must not rescan the input:\n$p")
  }

  test("i8_atr: bar build and bar windows share one user_id shuffle") {
    val p = plan(operators.MarketQueries.i8Atr(spark, sf))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx <= 1, s"bars groupBy and the window must co-partition:\n$p")
  }

  test("i11_vwap: one window pass over the scan, pruned schema") {
    val p = plan(operators.MarketQueries.i11Vwap(spark, sf))
    assert("Window".r.findAllIn(p).nonEmpty)
    assert(!p.contains("l_comment") && !p.contains("l_returnflag"),
      "vwap reads only the 5 needed lineitem columns")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx <= 1, s"single keyed shuffle expected:\n$p")
  }

  test("t15 balanced sample: the per-stratum quota is broadcast") {
    val p = plan(operators.CorpusQueries.t15BalancedSample(spark, sf))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"quota should broadcast, not shuffle:\n$p")
  }

  test("f11 json extract: stateless extraction, one aggregation shuffle") {
    val p = plan(operators.ExtendedQueries.f11JsonExtract(spark, sf))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx <= 1, s"json path math must not add shuffles:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2, "partial+final agg")
  }

  test("q6: every predicate reaches the parquet scan, no join, no extra exchange") {
    val p = plan(operators.ExtendedQueries.q6Forecast(spark, sf))
    // the plan string elides long PushedFilters lists — assert the list
    // is non-trivial and the schema is pruned to the four needed columns
    assert(p.contains("PushedFilters: [IsNotNull"))
    assert(p.contains("GreaterThanOrEqual(l_shipda"), s"predicates must push down:\n$p")
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_shipdate:timestamp"), "column pruning to 4 columns")
    assert(!p.contains("Join"), "Q6 has no join")
  }

  test("bucketed tables join without any exchange") {
    // writes to the default local warehouse (spark-warehouse/, gitignored)
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    Bucketing.writeBucketed(li, "li_b", Seq("l_orderkey"), 8)
    Bucketing.writeBucketed(ord, "ord_b", Seq("o_orderkey"), 8)
    val joined = Bucketing.readBucketed(spark, "li_b")
      .join(Bucketing.readBucketed(spark, "ord_b"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey").agg(sum("l_quantity"))
    val p = plan(joined)
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join should be shuffle-free:\n$p")
    assert(joined.count() > 0)
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
  }

  test("q2: correlated scalar subquery decorrelates to aggregate + join") {
    val p = plan(graft.operators.CorrelatedQueries.q2MinCost(spark, sf))
    // RewriteCorrelatedScalarSubquery: the per-part MIN becomes an
    // aggregate joined on the correlation key — never a per-row replay
    assert(!p.contains("Subquery"), s"subquery must be decorrelated:\n$p")
    assert("HashAggregate".r.findAllIn(p).nonEmpty, "expect the decorrelated MIN aggregate")
  }

  test("q21: EXISTS/NOT EXISTS chain plans as semi + anti joins") {
    val p = plan(graft.operators.CorrelatedQueries.q21WaitingSupplier(spark, sf))
    assert(p.contains("LeftSemi"), s"EXISTS should plan as left-semi:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS should plan as left-anti:\n$p")
  }

  test("q22: NOT EXISTS anti join; global average is a one-row subquery, not a join explosion") {
    val p = plan(graft.operators.CorrelatedQueries.q22DormantRich(spark, sf))
    assert(p.contains("LeftAnti"), s"dormancy filter should plan as left-anti:\n$p")
  }

  test("j5 time-band pairs: bucketed range join stays a keyed equi-join") {
    val p = plan(ExtendedQueries.j5TimeBandPairs(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"band join must equi-join on (user, bucket), not cross-product:\n$p")
  }

  test("q7: nation filters reach the 25-row dims pre-broadcast, no cartesian") {
    val p = plan(graft.operators.TpchQueries.q7VolumeShipping(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"nation dims must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q16: supplier blocklist plans as a broadcast anti join") {
    val p = plan(graft.operators.TpchQueries.q16SupplierCnt(spark, sf))
    assert(p.contains("LeftAnti"), s"NOT IN blocklist should be anti join:\n$p")
    assert(p.contains("PushedFilters"), "part filters must reach the scan")
  }

  test("q20: correlated per-part total decorrelates; IN plans as semi join") {
    val p = plan(graft.operators.CorrelatedQueries.q20PartPromotion(spark, sf))
    assert(p.contains("LeftSemi"), s"IN subquery should plan as left-semi:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "expect both the group agg and the decorrelated per-part total agg")
  }

  test("d5 near-dup: banded candidate join is an equi-join, never a cross product") {
    val p = plan(graft.operators.VectorQueries.d5EmbeddingNeardup(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"LSH bucketing must keep the pair join keyed:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"candidate join must be hash-joinable on (band, bucket):\n$p")
  }

  test("d5a adaptive near-dup: prefilter + rerank joins stay keyed equi-joins") {
    val p = plan(graft.operators.VectorQueries.d5aNeardupAdaptive(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"adaptive banding must keep the pair join keyed:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"signature/rerank joins must be hash-joinable on vec ids:\n$p")
  }

  test("q4: correlated EXISTS with outer-column inequality decorrelates to a semi join") {
    val p = plan(graft.operators.CorrelatedQueries.q4OrderPriority(spark, sf))
    assert(p.contains("LeftSemi"), s"EXISTS should plan as left-semi:\n$p")
    assert(p.contains("PushedFilters"), "quarter filter must reach the orders scan")
  }

  test("e1 skew profile: one-row stats broadcast, top-10 as TakeOrderedAndProject") {
    val p = plan(graft.operators.OpsQueries.e1SkewProfile(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"top-10 must not global-sort:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 1-row stats frame must broadcast:\n$p")
  }

  test("k8 z-order: interleave is codegen'd arithmetic, no HOF lambda in the plan") {
    val p = plan(graft.operators.OpsQueries.k8Zorder(spark, sf))
    assert(!p.contains("lambdafunction"),
      s"z-value must be unrolled shift/mask terms, not an interpreted HOF:\n$p")
    assert(p.contains("shiftleft"), "expect the unrolled interleave in the plan")
    assert("HashAggregate".r.findAllIn(p).length >= 2, "expect partial+final agg")
  }

  test("a20 beta: the per-position market frame joins by broadcast, never sort-merge") {
    val p = plan(TsQueries.a20Beta(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"market index (max-series-length rows) must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge against the tiny index:\n$p")
  }

  test("a19 VaR: per-series thresholds broadcast back to the returns") {
    val p = plan(TsQueries.a19VarCvar(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"k-row threshold frame must broadcast:\n$p")
  }

  test("t24 HLL: register build is partial+final agg — at most 2^p rows cross the wire") {
    val p = plan(graft.operators.QualityQueries.t24HllDistinct(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"expect map-side partial max before the bucket exchange:\n$p")
  }

  test("t26 BPE pairs: partial aggregation collapses pairs before the shuffle, top-k never global-sorts the counts") {
    val p = plan(graft.operators.CorpusQueries.t26BpePairs(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2, "expect partial+final agg")
    assert(p.contains("TakeOrderedAndProject"), s"top-30 must plan as partial top-k:\n$p")
  }

  test("v9 PQ ADC: codebook and distance tables broadcast, no cartesian product") {
    val p = plan(graft.operators.VectorQueries.v9PqSearch(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"the 8x64-row centroid dims and 4x8-per-query tables must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"ADC join must stay keyed:\n$p")
  }

  test("x7 SAX: per-series stats broadcast back, one series shuffle feeds both windows") {
    val p = plan(graft.operators.SimilarityQueries.x7Sax(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"k-row stats frame must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge against the stats:\n$p")
  }

  test("t30 inverted index: postings cap inside the term shuffle, band filter after agg, top-100 as TakeOrderedAndProject") {
    val p = plan(graft.operators.RetrievalQueries.t30InvertedIndex(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"top-100 must not global-sort:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the one-row doc count must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cap join must broadcast:\n$p")
  }

  test("t33 KMV set ops: bottom-k flows through TakeOrderedAndProject, never a global sort") {
    val p = plan(graft.operators.RetrievalQueries.t33KmvSetops(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"bottom-k must be per-partition top-k + merge:\n$p")
    assert(!p.contains("SortMergeJoin"), s"one-row frames must broadcast:\n$p")
  }

  test("e4 bloom prune: bit-set and one-row stats broadcast, probe join stays keyed") {
    val p = plan(graft.operators.OpsQueries.e4BloomPrune(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"bit-set membership join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in the probe:\n$p")
  }

  test("e6 PSI: global range broadcasts to the scan; no shuffle wider than the 10-bucket agg") {
    val p = plan(graft.operators.StatQueries.e6PsiDrift(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"one-row range frame must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"spine and totals must broadcast:\n$p")
  }

  test("x8 SAX motifs: one series shuffle feeds symbols, words, and positions") {
    val p = plan(graft.operators.StatQueries.x8SaxMotifs(spark, sf))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"expect series shuffle + word-group shuffle only, got $exchanges:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"per-series stats must broadcast:\n$p")
  }

  test("f6 cohort: first-day aggregate joins back without a second events shuffle shape change") {
    val p = plan(graft.operators.CohortQueries.f6Cohort(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cohort join must stay keyed:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2, "expect partial+final agg")
  }

  test("e7 FK audit: every parent side broadcasts, no edge degenerates to cartesian") {
    val p = plan(graft.operators.OpsQueries.e7FkAudit(spark, sf))
    assert(!p.contains("CartesianProduct"), s"FK probes must stay keyed:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"distinct parent keys must broadcast at sf scale:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2, "expect partial+final agg per edge")
  }

  test("s8 enrichment: the static dimension broadcasts (the no-state-store join flavor)") {
    val p = plan(graft.operators.StreamQueries.s8Enriched(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"stream-static dim must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dim join must not shuffle both sides:\n$p")
  }

  test("scd2: change detection and interval chaining share one series shuffle") {
    val p = plan(graft.operators.WarehouseQueries.qScd2Intervals(spark, sf))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"lag-filter-lead must reuse the user_id partitioning, got $exchanges:\n$p")
  }

  test("f8 top paths: session build + path rollup = series shuffle, path shuffle, top-20 TakeOrdered") {
    val p = plan(graft.operators.WarehouseQueries.f8TopPaths(spark, sf))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"expect series + path-group shuffles only, got $exchanges:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must not global-sort:\n$p")
  }

  test("f9 stickiness: bounded x7 fan-out feeds keyed distinct aggs, no cartesian") {
    val p = plan(graft.operators.CohortQueries.f9Stickiness(spark, sf))
    assert(!p.contains("CartesianProduct"), s"DAU/WAU join must stay keyed:\n$p")
    assert(p.contains("Generate explode") || p.contains("Generate"), s"window fan-out must be a generator:\n$p")
  }

  test("a22 underwater: both windows and the spell rollup share the series partitioning") {
    val p = plan(graft.operators.TsQueries.a22Underwater(spark, sf))
    assert(!p.contains("CartesianProduct"), s"spell join must stay keyed:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 3, s"expect series shuffle + keyed aggs only, got $exchanges:\n$p")
  }

  test("e8 FD audit: every countDistinct runs as partial+final aggregation") {
    val p = plan(graft.operators.OpsQueries.e8FdAudit(spark, sf))
    assert(!p.contains("CartesianProduct"), s"FD probes must stay keyed:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 4, "expect partial+final agg per FD")
  }

  test("t34 KMV Aggregator: partial aggregation before the source-key shuffle") {
    val p = plan(graft.operators.QualityQueries.t34KmvBySource(spark, sf))
    // typed-Aggregator buffers aggregate via ObjectHashAggregate; partial+final
    assert(p.contains("ObjectHashAggregate") || "HashAggregate".r.findAllIn(p).length >= 2,
      s"expect partial+final aggregation for the sketch buffers:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("m3 media near-dup: shared-fingerprint candidates stay a keyed equi-join") {
    val p = plan(graft.operators.VectorQueries.m3MediaNeardup(spark, sf))
    assert(!p.contains("CartesianProduct"), s"fingerprint join must stay keyed:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"no theta fallback:\n$p")
  }

  test("s9 session_window plans the native session-window aggregation") {
    val p = plan(graft.operators.StreamQueries.s9SessionWindow(spark, sf))
    assert(p.toLowerCase.contains("session_window") || p.contains("SessionWindow"),
      s"must use the native session-window operator:\n$p")
  }

  test("d10 deletion signatures: candidates stay a keyed equi-join, never a cartesian") {
    val p = plan(graft.operators.TextQueries.d10EditNeighbors(spark, sf))
    assert(!p.contains("CartesianProduct"), s"signature join must stay keyed:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"no theta-join fallback:\n$p")
  }

  test("full-outer recon: two keyed partial aggs meet in one join, never a cartesian") {
    val p = plan(graft.operators.WarehouseQueries.qFullOuterRecon(spark, sf))
    assert(!p.contains("CartesianProduct"), s"recon join must stay keyed:\n$p")
    assert(p.contains("FullOuter"), s"must plan a genuine full-outer join:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 4, "expect partial+final agg per side")
  }

  test("i16 Keltner: both frame windows share the single bars shuffle") {
    val p = plan(graft.operators.MarketQueries.i16Keltner(spark, sf))
    val exchanges = "Exchange".r.findAllIn(p).length -
      "BroadcastExchange".r.findAllIn(p).length
    // bars repartition + final orderBy range exchange; the mid/atr/rn
    // windows all partition by the same user_id layout
    assert(exchanges <= 3, s"frame windows must not re-shuffle:\n$p")
  }

  test("a23 Sharpe: events reduce through partial+final aggregation, no cartesian") {
    val p = plan(graft.operators.MarketQueries.a23Sharpe(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2, "expect partial+final agg")
    assert(!p.contains("CartesianProduct"))
  }

  test("w14 CUSUM: one series shuffle feeds the recurrence kernel") {
    val df = graft.operators.StatQueries.w14Cusum(spark, sf)
    val p = plan(df)
    assert(p.contains("MapGroups"), s"expected the flatMapGroups kernel:\n$p")
    assert(!p.contains("CartesianProduct"))
    assertSortedGroups(df)
  }

  test("t35 JSD: vocab-by-source support build never degenerates to a cartesian of rows") {
    val p = plan(graft.operators.StatQueries.t35JsdDrift(spark, sf))
    assert(!p.contains("CartesianProduct"), s"support join must broadcast:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "per-source and global distributions each need partial+final aggs")
  }

  test("f15 RFM: quintiles come from GlobalRank, not a single-task ntile window") {
    // The quintile scores are assigned by GlobalRank.withNtile (range
    // shuffle + the per-partition prefix-pass operator), so the final
    // plan must carry NO window at all — the unpartitioned ntile it
    // replaced would show as WindowExec with an empty partition spec.
    val p = plan(graft.operators.CohortQueries.f15Rfm(spark, sf))
    assert(!p.contains("Window"), s"no single-task ntile window may survive:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("g4 label propagation: every vote round is a keyed equi-join on the edge list") {
    val p = plan(graft.operators.OpsQueries.g4LabelProp(spark, sf))
    assert(!p.contains("CartesianProduct"), s"vote join must stay keyed:\n$p")
  }

  test("d12 novelty: aggregate-only — no shingle-keyed join a hot shingle can skew") {
    // r13 shape: n_novel comes from counting the min-aggregate's OUTPUT
    // per doc, never joining the raw shingle frame back on the shingle
    // key (the r12 probe measured that join at 13.1x straggler / 2.3 GB
    // spill at F=1000). The only join left is doc-keyed: two per-doc
    // count frames.
    val p = plan(graft.operators.TextQueries.d12Novelty(spark, sf))
    assert(!p.contains("CartesianProduct"), s"doc join must stay keyed:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"no theta-join fallback:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "expect partial+final agg on both the shingle-min and the doc counts")
    // exactly one join operator: sizes ⋈ novel on doc_id
    val joins = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r.findAllIn(p).length
    assert(joins == 1, s"expected exactly one doc-keyed join, got $joins:\n$p")
  }

  test("w15/i17 recurrence kernels: one series shuffle feeds MapGroups") {
    import graft.operators.IndicatorQueries._
    for (q <- Seq(graft.operators.MarketQueries.w15EwmCorr,
        graft.operators.MarketQueries.i17Psar, i1Ema, i2Macd, i12EwmaVol, i14Holt)) {
      val df = q(spark, sf)
      val p = plan(df)
      assert(p.contains("MapGroups"), s"expected the flatMapGroups kernel:\n$p")
      assert(!p.contains("CartesianProduct"))
      assertSortedGroups(df)
    }
  }

  test("g5 BFS: every relaxation round is a keyed join + min-aggregate") {
    val p = plan(graft.operators.OpsQueries.g5BfsHops(spark, sf))
    assert(!p.contains("CartesianProduct"), s"frontier join must stay keyed:\n$p")
  }

  test("e10 compaction plan: cells aggregate partial+final before the running sum") {
    val p = plan(graft.operators.OpsQueries.e10CompactionPlan(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2, "expect partial+final agg")
    assert(!p.contains("CartesianProduct"))
  }

  test("s10 late-data audit: running max and bands share one series shuffle") {
    val p = plan(graft.operators.StreamQueries.s10LateDataAudit(spark, sf))
    assert(p.contains("RunningWindowFunction") || p.contains("Window"))
    assert(!p.contains("CartesianProduct"))
  }

  test("t36 PMI: adjacency via per-doc lead window, totals broadcast, no row cartesian") {
    val p = plan(graft.operators.RetrievalQueries.t36PmiBigrams(spark, sf))
    assert(!p.contains("CartesianProduct"), s"totals must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must plan as partial top-K")
  }

  test("v10 recall eval: truth/approx compare joins stay equi-joins") {
    val p = plan(graft.operators.VectorQueries.v10RecallEval(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"only the per-query brute-force scoring may fan out, as BNLJ:\n$p")
  }

  test("k9 skyline: per-size aggregate before the sweep, never a dominance self-join") {
    val p = plan(graft.operators.FrontierQueries.k9Skyline(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2, "expect partial+final min(price)")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the O(n²) dominance join must not materialize:\n$p")
  }

  test("e11 benford: one scan, digit aggregation partial+final, 9-row spine joined") {
    val p = plan(graft.operators.FrontierQueries.e11Benford(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2)
    assert(!p.contains("CartesianProduct"))
  }

  test("f16 chi2: marginals broadcast back onto the cells, no cartesian") {
    val p = plan(graft.operators.FrontierQueries.f16Chi2Assoc(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"row/col marginals must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("w16 KS: the ordered CDF sweep is distributed, not a single-task window") {
    // The cumulative counts come from GlobalRank.withPrefixSums, so the
    // plan must carry NO window at all; the only nested-loop join is
    // the broadcast of the 1-row totals frame.
    val p = plan(graft.operators.FrontierQueries.w16KsTest(spark, sf))
    assert(!p.contains("Window"), s"no unpartitioned CDF window may survive:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastNestedLoopJoin"), "totals rejoin as a broadcast")
  }

  test("a24 gini: ranked sweep over the per-customer aggregate only") {
    val p = plan(graft.operators.FrontierQueries.a24Gini(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2)
    assert(!p.contains("CartesianProduct"))
  }

  test("g6 SSSP: every relaxation round is a keyed join + min-aggregate") {
    val p = plan(graft.operators.OpsQueries.g6Sssp(spark, sf))
    assert(!p.contains("CartesianProduct"), s"frontier join must stay keyed:\n$p")
  }

  test("w17 inventory: one series shuffle feeds the clamp kernel") {
    val df = graft.operators.LedgerQueries.w17Inventory(spark, sf)
    val p = plan(df)
    assert(p.contains("MapGroups"), s"expected the flatMapGroups kernel:\n$p")
    assert(!p.contains("CartesianProduct"))
    assertSortedGroups(df)
  }

  test("i18 TWAP: lead and aggregation share the series partitioning") {
    val p = plan(graft.operators.LedgerQueries.i18Twap(spark, sf))
    val exchanges = "Exchange".r.findAllIn(p).length -
      "BroadcastExchange".r.findAllIn(p).length
    // series hash shuffle + final orderBy range shuffle only
    assert(exchanges <= 3, s"unexpected extra shuffles:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("w18 MWU: rank sweep runs over the per-value aggregate") {
    val p = plan(graft.operators.LedgerQueries.w18Mwu(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "per-value jump counts must reduce partial+final before the window")
    assert(!p.contains("CartesianProduct"))
  }

  test("f17 Theil-Sen: pair fan-out is a keyed equi-join on the series key") {
    val p = plan(graft.operators.LedgerQueries.f17Theilsen(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"per-user pairs must come from a keyed self-join:\n$p")
  }

  test("d13 SNM: block-partitioned window sweep, no join at all") {
    val p = plan(graft.operators.LedgerQueries.d13SnmPairs(spark, sf))
    assert(!p.contains("Join"), s"the sweep must not plan any join:\n$p")
    assert(p.contains("Window"))
  }

  test("g7 closeness: all-sources BFS rounds stay keyed joins") {
    val p = plan(graft.operators.OpsQueries.g7Closeness(spark, sf))
    assert(!p.contains("CartesianProduct"), s"superstep must stay keyed:\n$p")
  }

  test("f18 association rules: basket self-join keyed on order, marginals broadcast, top-20 partial") {
    val p = plan(graft.operators.CohortQueries.f18AssocRules(spark, sf))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"), s"brand marginals must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "limit 20 must plan as partial top-K")
  }

  test("q_weighted_median: sweep over the per-price aggregate, flag-keyed windows") {
    val p = plan(graft.operators.FrontierQueries.qWeightedMedian(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "per-(flag,price) weights must reduce partial+final before the sweep")
    assert(!p.contains("CartesianProduct"))
  }

  test("j6 gap islands: O(present) runs — no dense spine, calendar broadcasts") {
    val p = plan(graft.operators.FrontierQueries.j6GapIslands(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no users×calendar densification:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the tiny calendar lookups must broadcast:\n$p")
  }

  test("w19 ACF: ten lags ride one series window, one stacked aggregation") {
    val p = plan(graft.operators.FrontierQueries.w19Acf(spark, sf))
    assert("Window".r.findAllIn(p).length <= 2,
      s"all lag columns must come from one window pass:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      s"the profile needs no join:\n$p")
  }

  test("j7 nearest-asof: tagged-union windows, no range join anywhere") {
    val p = plan(graft.operators.FrontierQueries.j7NearestAsof(spark, sf))
    assert(!p.contains("Join"), s"the asof must come from windows, not a join:\n$p")
    assert(p.contains("Window"))
  }

  test("t41 DP counts: one aggregation, noise is scalar expression work") {
    val p = plan(graft.operators.FrontierQueries.t41DpCounts(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2)
    assert(!p.contains("CartesianProduct"))
  }

  test("q_merge_intervals: sweep over distinct (supplier, date) intervals only") {
    val p = plan(graft.operators.FrontierQueries.qMergeIntervals(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "distinct interval reduce must run partial+final before the sweep")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      s"interval union needs no join at all:\n$p")
  }

  test("e13 volume anomaly: two windows over the per-day aggregate, not raw events") {
    val p = plan(graft.operators.FrontierQueries.e13VolumeAnomaly(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2)
    assert(!p.contains("CartesianProduct"))
  }

  test("v11 cluster purity: label join keyed, only the centroid fan-out is BNLJ") {
    val p = plan(graft.operators.VectorQueries.v11ClusterPurity(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"only the broadcast centroid scoring may fan out:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2)
  }

  test("q_active_intervals: difference array, never a day-by-order fan-out join") {
    val p = plan(graft.operators.FrontierQueries.qActiveIntervals(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "per-order last-ship and per-day deltas must reduce partial+final")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the census must come from deltas, not a range join:\n$p")
  }

  test("z2 backtest: decision z from decimal window sums, state machine in the kernel") {
    val df = graft.operators.MarketQueries.z2PairsBacktest(spark, sf)
    val p = plan(df)
    assert(p.contains("MapGroups"), s"expected the state-machine kernel:\n$p")
    assert(!p.contains("CartesianProduct"))
    assertSortedGroups(df)
  }

  test("f19 kaplan-meier: per-user reduce, per-lifetime reduce, kernel over event times only") {
    val df = graft.operators.CohortQueries.f19KaplanMeier(spark, sf)
    val p = plan(df)
    assert("HashAggregate".r.findAllIn(p).length >= 2)
    assert(p.contains("MapGroups"), s"expected the survival-product kernel:\n$p")
    assert(!p.contains("CartesianProduct"))
    assertSortedGroups(df)
  }

  test("i20 KAMA: window-derived coefficients and the kernel share the series shuffle") {
    val df = graft.operators.IndicatorQueries.i20Kama(spark, sf)
    val p = plan(df)
    assert(p.contains("MapGroups"), s"expected the recurrence kernel:\n$p")
    assert(p.contains("Window"), "ER/SC must come from window math, not the kernel")
    assert(!p.contains("CartesianProduct"))
    assertSortedGroups(df)
  }

  test("t38 Neyman: one stratum aggregation, windows over the strata frame only") {
    val p = plan(graft.operators.StatQueries.t38NeymanAlloc(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2, "expect partial+final agg")
    assert(!p.contains("CartesianProduct"))
  }

  test("i19 holt-winters: one series shuffle feeds the 9-state kernel") {
    val df = graft.operators.IndicatorQueries.i19HoltWinters(spark, sf)
    val p = plan(df)
    assert(p.contains("MapGroups"), s"expected the flatMapGroups kernel:\n$p")
    assert(!p.contains("CartesianProduct"))
    assertSortedGroups(df)
  }

  test("t37 quantile norm: rank axes build from per-value aggregates, lookup is an equi-join") {
    // The global CDF comes from GlobalRank.withPrefixSums and the
    // nt/n totals from broadcast-joined aggregate frames; the only
    // permissible nested-loop join is the 1-row global-count
    // broadcast (crossJoin(broadcast(ndf))) — the rank→value lookup
    // itself must stay a keyed equi-join, and the full-frame windows
    // (partitionBy(event_type) / partitionBy()) must be gone.
    val p = plan(graft.operators.TrainPrepQueries.t37QuantileNorm(spark, sf))
    assert(!p.contains("CartesianProduct"), s"rank lookup must stay keyed:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      s"only the 1-row n broadcast may nest-loop:\n$p")
    assert("SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r.findAllIn(p).nonEmpty,
      s"the rank lookup must be an equi-join:\n$p")
  }

  test("s11 unattributed: the anti join stays a keyed user join with the band as condition") {
    val p = plan(graft.operators.StreamQueries.s11Unattributed(spark, sf))
    assert(p.contains("LeftAnti"), s"expected a left-anti join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"band must ride the user_id equi-join, not a nested loop:\n$p")
  }

  test("e5 zonemap: by_price zones rank distributively, no global-window ntile") {
    val p = plan(graft.operators.OpsQueries.e5ZonemapPrune(spark, sf))
    assert(!p.contains("ntile"),
      s"zones must come from GlobalRank offsets, not a single-partition ntile:\n$p")
    assert(!p.contains("Window"),
      s"no window at all: ranks come from the per-partition sweep:\n$p")
    assert(p.contains("PrefixPass"),
      s"expected the GlobalRank prefix-pass operator feeding the zone agg:\n$p")
  }

  test("t8 / t15 group rankings: per-group offsets plan no Window") {
    // withGroupPrefixSums (t8) and withGroupRowNumber (t15) take each
    // group's offset from an aggregate over the prefix pass, not from a
    // window over the group totals.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    Seq("t8_pack" -> operators.TrainPrepQueries.t8Pack,
        "t15_balanced_sample" -> operators.CorpusQueries.t15BalancedSample)
      .foreach { case (name, q) =>
        val optimized = q(spark, sf).queryExecution.optimizedPlan
        assert(optimized.collectFirst { case w: LWindow => w }.isEmpty,
          s"$name plans a Window:\n$optimized")
      }
  }

  test("prefix pass: a filter above withRowNumber never pushes below the PrefixPass node") {
    // Ranks count the rows the node sees, so no filter may move below it:
    // the optimized plan keeps the Filter above PrefixPass, and nothing
    // filters underneath it.
    import graft.functions.{GlobalRank, PrefixPass}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    val df = GlobalRank.withRowNumber(spark.range(100).toDF("v").repartition(4), "rk", col("v"))
      .filter(col("rk") === 1L)
    val optimized = df.queryExecution.optimizedPlan
    val fil = optimized.collectFirst { case f: LFilter => f }
      .getOrElse(fail(s"no Filter survived optimization:\n$optimized"))
    val node = fil.collectFirst { case p: PrefixPass => p }
      .getOrElse(fail(s"the PrefixPass node must sit BELOW the filter:\n$optimized"))
    assert(node.collectFirst { case f: LFilter => f }.isEmpty,
      s"a filter moved below the PrefixPass node:\n$optimized")
    assert(df.select("v", "rk").as[(Long, Long)].collect().toSeq == Seq((0L, 1L)))
  }

}
