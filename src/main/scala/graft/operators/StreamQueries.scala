package graft.operators

import graft.Graft
import graft.Graft.Q
import graft.operators.CoreQueries.q6
import graft.streaming.EventStream
import org.apache.spark.sql.functions._

/** Batch-equivalent queries for the streaming transforms (the driver's
  * oracle is batch SQL; StreamingSpec proves the same transforms produce
  * identical results when run incrementally through MemoryStream). */
object StreamQueries {

  /** S-W1: tumbling 1-hour windowed counts/sums per event type. */
  val s1WindowAgg: Q = (s, dir) =>
    EventStream.windowedAgg(
      Graft.table(s, dir, "events")
        .withColumn("tsm", expr("timestamp_micros(ts div 1000)")))
      .select(col("wstart"), col("event_type"), col("n"),
        round(col("sum_value"), 6).as("sum_value"))
      .orderBy("wstart", "event_type")

  val s1WindowAggSql: String =
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS wstart, event_type,
      |  COUNT(*) AS n, ROUND(SUM(value), 6) AS sum_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin

  /** S-W2: 30-minute-gap sessionization per user (batch form). Runs on
    * µs-truncated timestamps because the oracle's TIMESTAMP type is µs
    * (DuckDB truncates the parquet ns values on read). */
  val s2Sessionize: Q = (s, dir) =>
    EventStream.sessionizeBatch(
      Graft.events(s, dir).withColumn("ts", expr("ts div 1000")),
      30L * 60 * 1000 * 1000)
      .select(col("user_id"), col("session_id"),
        col("n_events"), col("session_start"),
        col("duration_ns").as("duration_us"))
      .orderBy("user_id", "session_id")

  val s2SessionizeSql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tsu,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |m AS (
      |  SELECT user_id, event_id, tsu,
      |    CASE WHEN prev IS NULL OR tsu - prev > 1800000000 THEN 1 ELSE 0 END AS ns
      |  FROM g),
      |sid AS (
      |  SELECT user_id, tsu,
      |    CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM m)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MIN(tsu) AS session_start, MAX(tsu) - MIN(tsu) AS duration_us
      |FROM sid GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** S-W3: exact dedup of re-delivered events (batch form of the
    * dropDuplicatesWithinWatermark stream op — StreamingSpec proves the
    * incremental run matches). Duplicates are synthesized
    * deterministically: every event_id % 7 = 0 event is re-delivered
    * with a new delivery id; dedup keys on (user_id, ts) and keeps the
    * first delivery. */
  val s3EventDedup: Q = (s, dir) => {
    val ev = Graft.events(s, dir)
    val redelivered = ev.unionByName(
      ev.filter(col("event_id") % 7 === 0)
        .withColumn("event_id", col("event_id") + 100000))
    EventStream.dedupBatch(redelivered.withColumn("ts", expr("ts div 1000")),
      Seq("user_id", "ts"))
      .select(col("user_id"), col("ts").as("tsu"), col("event_id"), col("n_seen"))
      .orderBy("user_id", "tsu")
  }

  val s3EventDedupSql: String =
    """WITH red AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS tsu FROM events
      |  UNION ALL
      |  SELECT event_id + 100000, user_id, epoch_us(ts) FROM events
      |  WHERE event_id % 7 = 0)
      |SELECT user_id, tsu, MIN(event_id) AS event_id, COUNT(*) AS n_seen
      |FROM red GROUP BY user_id, tsu
      |ORDER BY user_id, tsu""".stripMargin

  /** S-W4: view→purchase attribution (batch form of the stream-stream
    * interval join — StreamingSpec proves the incremental run emits the
    * same pairs). Per purchase: views of the same user in the preceding
    * hour, rolled up to first-touch. Runs on µs-truncated time like s2
    * (the oracle's TIMESTAMP comparisons are µs). */
  val s4Attribution: Q = (s, dir) =>
    EventStream.attributionBatch(
        Graft.table(s, dir, "events").withColumn("ts", expr("ts div 1000")),
        3600L * 1000 * 1000)
      .select(col("purchase_id"), col("user_id"), col("n_views"),
        col("first_view_ts").as("first_view_us"))
      .orderBy("user_id", "purchase_id")

  val s4AttributionSql: String =
    """WITH v AS (SELECT user_id, epoch_us(ts) AS tsu, event_id
      |           FROM events WHERE event_type = 'view'),
      |p AS (SELECT user_id, epoch_us(ts) AS tsu, event_id
      |      FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id AS purchase_id, p.user_id AS user_id, COUNT(*) AS n_views,
      |  MIN(v.tsu) AS first_view_us
      |FROM p JOIN v ON v.user_id = p.user_id
      |  AND v.tsu < p.tsu AND v.tsu >= p.tsu - 3600000000
      |GROUP BY 1, 2
      |ORDER BY 2, 1""".stripMargin

  /** S-W5: trending top-3 event types per tumbling hour (batch form of
    * [[EventStream.trendingStream]]; StreamingSpec proves the stream
    * twin). Rank runs on the windowed AGGREGATE (a few rows per hour),
    * never the raw events — the only scale-safe place for a top-k. */
  val s5Trending: Q = (s, dir) =>
    EventStream.trendingBatch(
      Graft.table(s, dir, "events")
        .withColumn("tsm", expr("timestamp_micros(ts div 1000)")), 3)
      .select(col("wstart"), col("event_type"), col("n"),
        col("rk").cast("long").as("rk"))
      .orderBy("wstart", "rk")

  val s5TrendingSql: String =
    """WITH wa AS (
      |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS wstart, event_type,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |rk AS (
      |  SELECT wstart, event_type, n,
      |    row_number() OVER (PARTITION BY wstart ORDER BY n DESC, event_type) AS rk
      |  FROM wa)
      |SELECT wstart, event_type, n, rk FROM rk
      |WHERE rk <= 3 ORDER BY wstart, rk""".stripMargin

  /** S-W6: distinct users per tumbling hour via the per-window HLL
    * sketch next to the exact count (batch form; StreamingSpec proves
    * the mapGroupsWithState register-state stream twin produces the
    * identical estimates). The streaming-at-scale point: sketch state
    * is 256 bytes per window forever, where exact distinct state grows
    * with the key set. */
  val s6HllWindow: Q = (s, dir) => {
    val ev = Graft.table(s, dir, "events")
      .withColumn("wstart", expr("date_trunc('hour', timestamp_micros(ts div 1000))"))
    val est = graft.sketch.Sketches.hllEstimateBy(ev, col("user_id"), 8, Seq("wstart"))
    val exact = ev.groupBy("wstart").agg(countDistinct(col("user_id")).as("n_exact"))
    est.join(exact, "wstart")
      .select(col("wstart"), col("m"), col("zeros"), col("n_exact"), col("est"))
      .orderBy("wstart")
  }

  val s6HllWindowSql: String =
    """WITH f AS (
      |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS wstart, user_id,
      |    md5(CAST(user_id AS VARCHAR)) AS hx
      |  FROM events),
      |parts AS (
      |  SELECT wstart, user_id,
      |         CAST(('0x' || substring(hx, 1, 2)) AS BIGINT) AS bucket,
      |         substring(hx, 3, 15) AS h15
      |  FROM f),
      |rho AS (
      |  SELECT wstart, bucket,
      |    CASE WHEN z = 15 THEN 61
      |         ELSE z * 4 +
      |           CASE WHEN nib >= 8 THEN 0 WHEN nib >= 4 THEN 1
      |                WHEN nib >= 2 THEN 2 ELSE 3 END + 1 END AS rho
      |  FROM (SELECT wstart, bucket, z,
      |          CAST(('0x' || CASE WHEN z = 15 THEN '0'
      |                             ELSE substring(h15, z + 1, 1) END) AS INT) AS nib
      |        FROM (SELECT wstart, bucket, h15,
      |                length(regexp_extract(h15, '^(0*)', 1)) AS z
      |              FROM parts))),
      |regs AS (SELECT wstart, bucket, MAX(rho) AS m_j FROM rho GROUP BY 1, 2),
      |agg AS (
      |  SELECT wstart, COUNT(*) AS nb,
      |         SUM(CAST(POWER(2.0, 60 - m_j) AS DECIMAL(38,0))) AS s_ne
      |  FROM regs GROUP BY wstart),
      |est0 AS (
      |  SELECT wstart, CAST(256 AS BIGINT) AS m, 256 - nb AS zeros,
      |    CAST(256 - nb AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT)
      |      + CAST(s_ne AS HUGEINT) AS s
      |  FROM agg),
      |est AS (
      |  SELECT wstart, m, zeros,
      |    CASE WHEN zeros > 0 AND raw <= 2.5 * 256 THEN
      |           256.0 * ln(256.0 / CAST(zeros AS DOUBLE))
      |         ELSE raw END AS e
      |  FROM (SELECT wstart, m, zeros,
      |          0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 *
      |            1152921504606846976.0 / CAST(s AS DOUBLE) AS raw
      |        FROM est0)),
      |ex AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS wstart,
      |              COUNT(DISTINCT user_id) AS n_exact
      |       FROM events GROUP BY 1)
      |SELECT est.wstart, m, zeros, n_exact, ROUND(e, 6) AS est
      |FROM est JOIN ex ON ex.wstart = est.wstart
      |ORDER BY est.wstart""".stripMargin

  /** S-W7: per-hour event-type frequency via the windowed Count-Min
    * sketch (depth 4 × width 64) next to the exact counts — the
    * grouped-sketch form of t21 and the batch twin of the
    * flatMapGroupsWithState cell-state stream (StreamingSpec). CMS
    * guarantees est ≥ exact; with a tiny key domain the estimates are
    * typically exact, and the plan moves ≤ windows·depth·width cells. */
  val s7CmsWindow: Q = (s, dir) => {
    val ev = Graft.table(s, dir, "events")
      .withColumn("wstart", expr("date_trunc('hour', timestamp_micros(ts div 1000))"))
    val cells = graft.sketch.Sketches.countMinCells(
      ev, col("event_type"), 4, 64, Seq("wstart"))
    val exact = ev.groupBy(col("wstart"), col("event_type").as("key"))
      .agg(count(lit(1)).as("n_exact"))
    graft.sketch.Sketches.countMinEstimate(
        cells, exact.select("wstart", "key"), 4, 64, Seq("wstart"))
      .join(exact, Seq("wstart", "key"))
      .select(col("wstart"), col("key").as("event_type"),
        col("n_exact"), col("cms_est"))
      .orderBy("wstart", "event_type")
  }

  val s7CmsWindowSql: String =
    """WITH w2 AS (
      |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS wstart,
      |         event_type AS key
      |  FROM events),
      |h AS (SELECT wstart, key,
      |        CAST(('0x' || substring(md5(key), 1, 15)) AS BIGINT) AS h1,
      |        CAST(('0x' || substring(md5(key), 17, 14)) AS BIGINT) AS h2
      |      FROM w2),
      |cells AS (
      |  SELECT wstart, i AS row, (h1 + i * h2) % 64 AS col, COUNT(*) AS n
      |  FROM h CROSS JOIN range(4) r(i) GROUP BY 1, 2, 3),
      |exact AS (SELECT wstart, key, COUNT(*) AS n_exact FROM w2 GROUP BY 1, 2),
      |est AS (
      |  SELECT e.wstart, e.key, MIN(c.n) AS cms_est
      |  FROM exact e CROSS JOIN range(4) r(i)
      |  JOIN cells c ON c.wstart = e.wstart AND c.row = r.i
      |    AND c.col = (CAST(('0x' || substring(md5(e.key), 1, 15)) AS BIGINT)
      |      + r.i * CAST(('0x' || substring(md5(e.key), 17, 14)) AS BIGINT)) % 64
      |  GROUP BY 1, 2)
      |SELECT e.wstart, e.key AS event_type, e.n_exact, est.cms_est
      |FROM exact e JOIN est ON est.wstart = e.wstart AND est.key = e.key
      |ORDER BY e.wstart, event_type""".stripMargin

  /** S8: stream-static enrichment — every event joined to a static
    * per-user dimension (here: the user's cohort week, itself one
    * batch aggregation) and aggregated per window × segment. The
    * batch twin of [[EventStream.enrichStream]]; StreamingSpec proves
    * the broadcast stream-static join emits identical rows
    * incrementally. */
  val s8Enriched: Q = (s, dir) => {
    val ev = Graft.table(s, dir, "events")
      .withColumn("tsm", expr("timestamp_micros(ts div 1000)"))
    val dim = ev.groupBy("user_id")
      .agg(to_date(date_trunc("week", min(to_date(col("tsm"))))).as("segment"))
    EventStream.enrichBatch(ev, dim)
      .select(col("wstart"), col("segment"), col("n"),
        round(col("sum_value"), 6).as("sum_value"))
      .orderBy("wstart", "segment")
  }

  val s8EnrichedSql: String =
    """WITH d AS (
      |  SELECT user_id,
      |    CAST(date_trunc('week', MIN(CAST(ts AS DATE))) AS DATE) AS segment
      |  FROM events GROUP BY 1)
      |SELECT CAST(date_trunc('hour', e.ts) AS TIMESTAMP) AS wstart, d.segment,
      |  COUNT(*) AS n, ROUND(SUM(e.value), 6) AS sum_value
      |FROM events e JOIN d USING (user_id)
      |GROUP BY 1, 2 ORDER BY wstart, segment""".stripMargin

  /** S9: native merge-based sessionization (`session_window`) — same
    * 30-minute gap as s2 but via the built-in session operator; see
    * [[EventStream.sessionWindowBatch]] for the one-instant boundary
    * difference vs the islands form, which the oracle replays (`>= gap`
    * starts a new session; end = last + gap). */
  val s9SessionWindow: Q = (s, dir) =>
    EventStream.sessionWindowBatch(
      Graft.table(s, dir, "events")
        .withColumn("tsm", expr("timestamp_micros(ts div 1000)")))
      .orderBy("user_id", "session_start")

  val s9SessionWindowSql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tsu,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |                            ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events),
      |m AS (
      |  SELECT user_id, event_id, tsu,
      |    CASE WHEN prev IS NULL OR tsu - prev >= 1800000000 THEN 1 ELSE 0 END AS ns
      |  FROM g),
      |sid AS (
      |  SELECT user_id, tsu,
      |    SUM(ns) OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM m)
      |SELECT user_id, make_timestamp(MIN(tsu)) AS session_start,
      |  make_timestamp(MAX(tsu) + 1800000000) AS session_end,
      |  COUNT(*) AS n_events
      |FROM sid GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** S10: late-data audit — the measurement that SIZES a watermark
    * before anyone turns on event-time streaming over this feed: per
    * user (the stream's key), arrival order = event_id, lateness of
    * each event = high-watermark-so-far − its event time. Emits the
    * lateness histogram over operational bands (on-time / <1 s / <10 s /
    * <60 s / ≥60 s) with counts, share, and the worst lateness per band
    * — read "p99 < 10 s" straight off the cumulative shares, set
    * `withWatermark("ts", …)` accordingly (the flush-timeout and
    * dropDuplicatesWithinWatermark ops downstream inherit it). One
    * running-max window + one 5-group aggregate; all exact integers.
    * The driver's synthetic events arrive perfectly ordered (the audit
    * would be one all-on-time row), so a deterministic 10 % slice
    * (event_id % 10 = 3) is re-sequenced 50 arrival slots late — the
    * delivery-delay shape a real ingest bus exhibits. */
  val s10LateDataAudit: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("arr", "event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val late = Graft.events(s, dir)
      .withColumn("tsu", expr("ts div 1000"))
      .withColumn("arr",
        col("event_id") + when(col("event_id") % 10 === 3, 50L).otherwise(0L))
      .withColumn("late_us", max(col("tsu")).over(w) - col("tsu"))
      .withColumn("bucket",
        when(col("late_us") === 0, 0L)
          .when(col("late_us") < 1000000L, 1L)
          .when(col("late_us") < 10000000L, 2L)
          .when(col("late_us") < 60000000L, 3L)
          .otherwise(4L))
    val total = late.agg(count(lit(1)).as("total"))
    late.groupBy("bucket")
      .agg(count(lit(1)).as("n"), max(col("late_us")).cast("long").as("max_late_us"))
      .crossJoin(broadcast(total))
      .select(col("bucket"),
        when(col("bucket") === 0, "on_time").when(col("bucket") === 1, "lt_1s")
          .when(col("bucket") === 2, "lt_10s").when(col("bucket") === 3, "lt_60s")
          .otherwise("ge_60s").as("band"),
        col("n"),
        q6(col("n").cast("double") / col("total")).as("share"),
        col("max_late_us"))
      .orderBy("bucket")
  }

  val s10LateDataAuditSql: String =
    """WITH a AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tsu,
      |    event_id + CASE WHEN event_id % 10 = 3 THEN 50 ELSE 0 END AS arr
      |  FROM events),
      |l AS (
      |  SELECT user_id, event_id, tsu,
      |    MAX(tsu) OVER (PARTITION BY user_id ORDER BY arr, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tsu AS late_us
      |  FROM a),
      |b AS (
      |  SELECT CASE WHEN late_us = 0 THEN 0 WHEN late_us < 1000000 THEN 1
      |              WHEN late_us < 10000000 THEN 2 WHEN late_us < 60000000 THEN 3
      |              ELSE 4 END AS bucket,
      |         late_us
      |  FROM l),
      |t AS (SELECT COUNT(*) AS total FROM b)
      |SELECT CAST(bucket AS BIGINT) AS bucket,
      |  CASE WHEN bucket = 0 THEN 'on_time' WHEN bucket = 1 THEN 'lt_1s'
      |       WHEN bucket = 2 THEN 'lt_10s' WHEN bucket = 3 THEN 'lt_60s'
      |       ELSE 'ge_60s' END AS band,
      |  COUNT(*) AS n,
      |  floor(CAST(COUNT(*) AS DOUBLE) / t.total * 1e6 + 0.5) / 1e6 AS share,
      |  CAST(MAX(late_us) AS BIGINT) AS max_late_us
      |FROM b CROSS JOIN t
      |GROUP BY bucket, t.total ORDER BY bucket""".stripMargin

  /** S11: unattributed purchases — s4's complement: purchases with NO
    * view of the same user in the preceding hour, as a left-anti join
    * on the same user-keyed time band (the batch twin of the
    * stream-stream LEFT OUTER join's null-side output, whose
    * watermark-expiry emission StreamingSpec pins). Runs on µs time
    * like s4. */
  val s11Unattributed: Q = (s, dir) =>
    EventStream.unattributedBatch(
        Graft.table(s, dir, "events").withColumn("ts", expr("ts div 1000")),
        3600L * 1000 * 1000)
      .select(col("purchase_id"), col("user_id"), col("p_ts").as("p_us"))
      .orderBy("user_id", "purchase_id")

  val s11UnattributedSql: String =
    """WITH v AS (SELECT user_id, epoch_us(ts) AS tsu
      |           FROM events WHERE event_type = 'view'),
      |p AS (SELECT user_id, epoch_us(ts) AS tsu, event_id
      |      FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id AS purchase_id, p.user_id AS user_id, p.tsu AS p_us
      |FROM p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM v WHERE v.user_id = p.user_id
      |    AND v.tsu < p.tsu AND v.tsu >= p.tsu - 3600000000)
      |ORDER BY 2, 1""".stripMargin

  def queries: Map[String, Q] = Map(
    "s11_unattributed" -> s11Unattributed,
    "s10_late_data_audit" -> s10LateDataAudit,
    "s9_session_window" -> s9SessionWindow,
    "s8_enriched" -> s8Enriched,
    "s7_cms_window" -> s7CmsWindow,
    "s6_hll_window" -> s6HllWindow,
    "s5_trending" -> s5Trending,
    "s1_window_agg" -> s1WindowAgg,
    "s2_sessionize" -> s2Sessionize,
    "s3_event_dedup" -> s3EventDedup,
    "s4_attribution" -> s4Attribution,
  )

  def oracle: Map[String, String] = Map(
    "s11_unattributed" -> s11UnattributedSql,
    "s10_late_data_audit" -> s10LateDataAuditSql,
    "s9_session_window" -> s9SessionWindowSql,
    "s8_enriched" -> s8EnrichedSql,
    "s7_cms_window" -> s7CmsWindowSql,
    "s6_hll_window" -> s6HllWindowSql,
    "s5_trending" -> s5TrendingSql,
    "s1_window_agg" -> s1WindowAggSql,
    "s2_sessionize" -> s2SessionizeSql,
    "s3_event_dedup" -> s3EventDedupSql,
    "s4_attribution" -> s4AttributionSql,
  )
}
