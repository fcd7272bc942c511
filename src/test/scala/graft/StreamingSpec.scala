package graft

import graft.streaming.EventStream
import graft.streaming.EventStream.{Ev, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming transforms produce the same results as their batch forms
  * when driven incrementally through MemoryStream. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("windowed agg: stream over two micro-batches equals batch result") {
    implicit val sc = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:05:00")
    def ts(minOff: Int) = new java.sql.Timestamp(t0.getTime + minOff * 60000L)
    val rows = Seq(
      (ts(0), "click", 1.0), (ts(10), "click", 2.0), (ts(20), "view", 3.0),
      (ts(70), "click", 4.0), (ts(80), "view", 5.0))

    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val sdf = stream.toDF().toDF("tsm", "event_type", "value")
    val q = EventStream.windowedAggStream(sdf)
      .writeStream.format("memory").queryName("winagg").outputMode("append").start()
    stream.addData(rows.take(3))
    q.processAllAvailable()
    stream.addData(rows.drop(3))
    q.processAllAvailable()
    // advance the watermark far enough to close every window
    stream.addData(Seq((ts(600), "late", 0.0)))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("winagg")
      .select("wstart", "event_type", "n", "sum_value")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    val batch = EventStream.windowedAgg(rows.toDF("tsm", "event_type", "value"))
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    assert(batch.subsetOf(got))
    assert(got.filter(_._2 != "late") == batch)
  }

  test("stream-static enrichment join equals batch, events without a dim row drop") {
    implicit val sc = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:05:00")
    def ts(minOff: Int) = new java.sql.Timestamp(t0.getTime + minOff * 60000L)
    val rows = Seq(
      (ts(0), 1L, 1.0), (ts(10), 2L, 2.0), (ts(20), 1L, 3.0),
      (ts(70), 3L, 99.0),  // user 3 has NO dim row -> dropped by the inner join
      (ts(80), 2L, 5.0))
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "segment")

    val stream = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val sdf = stream.toDF().toDF("tsm", "user_id", "value")
    val q = EventStream.enrichStream(sdf, dim)
      .writeStream.format("memory").queryName("enrich").outputMode("append").start()
    stream.addData(rows.take(3))
    q.processAllAvailable()
    stream.addData(rows.drop(3))
    q.processAllAvailable()
    stream.addData(Seq((ts(600), 1L, 0.0))) // advance watermark to close windows
    q.processAllAvailable()
    q.stop()

    val got = spark.table("enrich")
      .select("wstart", "segment", "n", "sum_value")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    val batch = EventStream.enrichBatch(rows.toDF("tsm", "user_id", "value"), dim)
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    // the watermark-advance row's own 20:00 window never closes, so the
    // emitted set must be exactly the batch result
    assert(got == batch, s"stream/batch diverge: ${got.diff(batch)} / ${batch.diff(got)}")
    // user 3 had no dim row: its sentinel value must not be in any sum
    assert(!batch.exists(_._4 >= 99.0), "an event without a dim row leaked through")
    assert(batch.map(_._2).subsetOf(Set("gold", "silver")))
  }

  test("HLL register state: update-mode stream equals the batch sketch bit-for-bit") {
    implicit val sc = spark.sqlContext
    // two windows; keys split across micro-batches WITH overlap, so the
    // merge-invariance of the max-registers is what's actually proven
    val batch1 = (1 to 400).map(k => EventStream.KeyedEv(0L, s"u$k")) ++
      (1 to 100).map(k => EventStream.KeyedEv(3600L, s"v$k"))
    val batch2 = (200 to 700).map(k => EventStream.KeyedEv(0L, s"u$k")) ++
      (50 to 300).map(k => EventStream.KeyedEv(3600L, s"v$k"))

    val stream = MemoryStream[EventStream.KeyedEv]
    val q = EventStream.hllDistinctStream(stream.toDS())
      .writeStream.format("memory").queryName("hllwin").outputMode("update").start()
    stream.addData(batch1)
    q.processAllAvailable()
    stream.addData(batch2)
    q.processAllAvailable()
    q.stop()

    // last update per window = the final merged-state estimate
    val got = spark.table("hllwin")
      .groupBy("wstart").agg(last(col("est")).as("est"))
      .as[(Long, Double)].collect().toMap

    // batch twin over the union of both micro-batches
    val all = (batch1 ++ batch2).toDS()
    val exp = graft.sketch.Sketches
      .hllEstimateBy(all.toDF(), col("key"), 8, Seq("wstart"))
      .select("wstart", "est").as[(Long, Double)].collect().toMap
    // stream state formula is unrounded; engine query rounds at 6 dp
    assert(got.keySet == exp.keySet)
    got.foreach { case (w, e) =>
      assert(math.abs(e - exp(w)) < 5e-7, s"window $w: stream $e vs batch ${exp(w)}")
    }
    // and the estimates are in the right cardinality neighborhood
    assert(math.abs(got(0L) - 700) / 700.0 < 0.2)
    assert(math.abs(got(3600L) - 300) / 300.0 < 0.2)
  }

  test("CMS cell state: update-mode stream equals the batch sketch exactly") {
    implicit val sc = spark.sqlContext
    // occurrences split across micro-batches; cell increments are
    // commutative integer adds, so the final estimates must EQUAL the
    // batch sketch over the union (no float tolerance needed)
    val batch1 = Seq.fill(30)(EventStream.KeyedEv(0L, "click")) ++
      Seq.fill(10)(EventStream.KeyedEv(0L, "view")) ++
      Seq.fill(5)(EventStream.KeyedEv(3600L, "buy"))
    // the last batch touches every (window, key), so each key's LAST
    // emitted update reflects the fully merged state
    val batch2 = Seq.fill(20)(EventStream.KeyedEv(0L, "click")) ++
      Seq.fill(15)(EventStream.KeyedEv(0L, "view")) ++
      Seq.fill(7)(EventStream.KeyedEv(3600L, "buy"))

    val stream = MemoryStream[EventStream.KeyedEv]
    val q = EventStream.cmsHeavyStream(stream.toDS())
      .writeStream.format("memory").queryName("cmswin").outputMode("update").start()
    stream.addData(batch1)
    q.processAllAvailable()
    stream.addData(batch2)
    q.processAllAvailable()
    q.stop()

    val got = spark.table("cmswin")
      .groupBy("wstart", "key").agg(last(col("est")).as("est"))
      .as[(Long, String, Long)].collect()
      .map { case (w, k, e) => (w, k) -> e }.toMap

    val all = (batch1 ++ batch2).toDS().toDF()
    val cells = graft.sketch.Sketches.countMinCells(
      all, col("key"), 4, 64, Seq("wstart"))
    val exp = graft.sketch.Sketches.countMinEstimate(
        cells, all.select("wstart", "key").distinct(), 4, 64, Seq("wstart"))
      .as[(Long, String, Long)].collect()
      .map { case (w, k, e) => (w, k) -> e }.toMap
    assert(got == exp, s"stream $got vs batch $exp")
    // CMS never underestimates; with 3 keys over 64 columns it's exact
    assert(got((0L, "click")) == 50 && got((0L, "view")) == 25 && got((3600L, "buy")) == 12)
  }

  test("trending top-k: complete-mode stream equals the batch top-k heads") {
    implicit val sc = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:05:00")
    def ts(minOff: Int) = new java.sql.Timestamp(t0.getTime + minOff * 60000L)
    // hour 10: click×3, view×1; hour 11: view×2, click×1
    val rows = Seq(
      (ts(0), "click", 1.0), (ts(5), "click", 1.0), (ts(10), "click", 1.0),
      (ts(20), "view", 1.0),
      (ts(60), "view", 1.0), (ts(70), "view", 1.0), (ts(80), "click", 1.0))

    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = EventStream.trendingStream(
        stream.toDF().toDF("tsm", "event_type", "value"), k = 2)
      .writeStream.format("memory").queryName("trend").outputMode("complete").start()
    stream.addData(rows)
    q.processAllAvailable()
    q.stop()

    val got = spark.table("trend")
      .select("event_type", "n").as[(String, Long)].collect().toSet
    // global top-2 aggregates: click@10h (3) and view@11h (2)
    assert(got == Set(("click", 3L), ("view", 2L)))

    val batch = EventStream.trendingBatch(rows.toDF("tsm", "event_type", "value"), 1)
      .select("event_type", "n").as[(String, Long)].collect().toSet
    // per-window winners: click in hour 10, view in hour 11
    assert(batch == Set(("click", 3L), ("view", 2L)))
  }

  test("file-source stream over the real events parquet equals batch") {
    val dir = "/root/testdata/sf0.001"
    // the file stream source wants a directory: stage the single file
    val staged = java.nio.file.Files.createTempDirectory("graftstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"))
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val stream = spark.readStream.schema(raw.schema)
      .parquet(staged.toString)
      .withColumn("tsm", Graft.tsMicros(raw))
    val q = EventStream.windowedAgg(stream)
      .writeStream.format("memory").queryName("filewin").outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("filewin")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    val batch = EventStream.windowedAgg(
      raw.withColumn("tsm", Graft.tsMicros(raw)))
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    assert(got == batch)
    assert(got.nonEmpty)
  }

  test("streaming dedup keeps the first delivery per key like batch") {
    implicit val sc = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def ts(minOff: Int) = new java.sql.Timestamp(t0.getTime + minOff * 60000L)
    // (event_id, user_id, tsm): event 10 and 12 are re-delivered later
    // with new delivery ids (110, 112)
    val firstBatch = Seq((10L, 1L, ts(0)), (11L, 1L, ts(1)), (12L, 2L, ts(0)))
    val redelivery = Seq((110L, 1L, ts(0)), (112L, 2L, ts(0)), (13L, 2L, ts(5)))

    val stream = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val sdf = stream.toDF().toDF("event_id", "user_id", "tsm")
    val q = EventStream.dedupStream(sdf, Seq("user_id", "tsm"))
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    stream.addData(firstBatch)
    q.processAllAvailable()
    stream.addData(redelivery)
    q.processAllAvailable()
    q.stop()

    val got = spark.table("dedup")
      .select("event_id", "user_id").as[(Long, Long)].collect().toSet
    // first arrival wins: original ids survive, redelivered ids don't
    assert(got == Set((10L, 1L), (11L, 1L), (12L, 2L), (13L, 2L)))

    // batch form keeps min event_id per key — same survivors here
    val batch = EventStream.dedupBatch(
      (firstBatch ++ redelivery).toDF("event_id", "user_id", "ts")
        .select(col("user_id"), col("ts"), col("event_id")),
      Seq("user_id", "ts"))
      .select("event_id", "user_id").as[(Long, Long)].collect().toSet
    assert(batch == got)
  }

  test("stream-stream attribution join emits the same pairs as batch") {
    implicit val sc = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def ts(minOff: Int) = new java.sql.Timestamp(t0.getTime + minOff * 60000L)
    // views for users 1 and 2; purchases inside/outside the 1h window
    val views = Seq((1L, ts(0), 100L), (1L, ts(30), 101L), (2L, ts(0), 102L))
    val purchases = Seq(
      (1L, ts(45), 200L),  // attributes to views 100 and 101
      (2L, ts(90), 201L),  // view 102 is 90min earlier — outside 1h
      (3L, ts(50), 202L))  // no views at all

    val vStream = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val pStream = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val q = EventStream.attributionStream(
        vStream.toDF().toDF("user_id", "tsm", "event_id"),
        pStream.toDF().toDF("user_id", "tsm", "event_id"))
      .writeStream.format("memory").queryName("attr").outputMode("append").start()
    vStream.addData(views)
    q.processAllAvailable()
    pStream.addData(purchases)
    q.processAllAvailable()
    q.stop()

    val got = spark.table("attr")
      .select("purchase_id", "user_id", "view_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((200L, 1L, 100L), (200L, 1L, 101L)))

    // batch form over the union of both sides agrees pair-for-pair
    val events = (views.map { case (u, t, id) => (id, u, t.getTime * 1000000L, "view") }
      ++ purchases.map { case (u, t, id) => (id, u, t.getTime * 1000000L, "purchase") })
      .toDF("event_id", "user_id", "ts", "event_type")
    val batch = EventStream.attributionPairs(events, 3600L * 1000 * 1000 * 1000)
      .select("purchase_id", "user_id", "view_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(batch == got)
  }

  test("native session_window stream emits the batch sessions once closed") {
    implicit val sc = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def ts(minOff: Int) = new java.sql.Timestamp(t0.getTime + minOff * 60000L)
    val rows = Seq(
      (ts(0), 1L), (ts(10), 1L),   // user 1 session A (2 events)
      (ts(120), 1L),               // user 1 session B (gap 110min > 30)
      (ts(5), 2L))                 // user 2 session (1 event)
    val stream = MemoryStream[(java.sql.Timestamp, Long)]
    val sdf = stream.toDF().toDF("tsm", "user_id")
    val q = EventStream.sessionWindowStream(sdf)
      .writeStream.format("memory").queryName("swin").outputMode("append").start()
    stream.addData(rows.take(2)); q.processAllAvailable()
    stream.addData(rows.drop(2)); q.processAllAvailable()
    stream.addData(Seq((ts(600), 9L))) // advance watermark past every session end
    q.processAllAvailable()
    q.stop()
    val got = spark.table("swin")
      .select("user_id", "session_start", "session_end", "n_events")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
    val batch = EventStream.sessionWindowBatch(rows.toDF("tsm", "user_id"))
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
    assert(batch.subsetOf(got) && got.filter(_._1 != 9L) == batch,
      s"stream/batch diverge: $got vs $batch")
  }

  test("event-time timeout flushes an idle user's session without another event from them") {
    implicit val sc = spark.sqlContext
    val M = 60L * 1000 * 1000 * 1000 // one minute in ns
    val gap = 30 * M
    val stream = MemoryStream[Ev]
    val q = EventStream.sessionizeStreamTimeout(stream.toDS(), gap, "1 minute")
      .writeStream.format("memory").queryName("sess_to").outputMode("append").start()
    // user 1's only events (offset from epoch: time 0 would equal the
    // initial watermark and be dropped as late); user 1 never appears again
    stream.addData(Seq(Ev(1, 1000 * M, 1.0), Ev(1, 1005 * M, 1.0)))
    q.processAllAvailable()
    // other-user traffic advances the watermark far past 1005min + gap ...
    stream.addData(Seq(Ev(2, 1500 * M, 1.0)))
    q.processAllAvailable()
    // ... and the NEXT batch applies it, firing user 1's timeout
    stream.addData(Seq(Ev(2, 1501 * M, 1.0)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_to").as[Session].collect().toSet
    assert(got.contains(Session(1, 1000 * M, 2, 5 * M)),
      s"idle user 1's session must flush by timeout, got $got")
    // user 2's session stays open (no timeout passed it): nothing else emitted
    assert(got.forall(_.user_id == 1L), s"user 2 must still be open, got $got")
  }

  test("checkpoint restart resumes stateful SCD2 exactly-once (no dup, no loss)") {
    implicit val sc = spark.sqlContext
    import graft.streaming.EventStream.{Change, ScdInterval}
    val root = java.nio.file.Files.createTempDirectory("scd2ckpt")
    val (ckpt, out) = (s"$root/ckpt", s"$root/out")
    val stream = MemoryStream[Change]
    def start() = EventStream.scd2Stream(stream.toDS())
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      val q1 = start()
      stream.addData(Seq(Change(1, 100, "A"), Change(2, 50, "X")))
      q1.processAllAvailable()
      q1.stop() // crash/redeploy point: state + source offsets live in the checkpoint
      val q2 = start()
      stream.addData(Seq(Change(1, 300, "B"), Change(2, 75, "Y")))
      q2.processAllAvailable()
      q2.stop()
      val got = spark.read.parquet(out).as[ScdInterval].collect().toSet
      assert(got == Set(
        ScdInterval(1, "A", 100, 300), ScdInterval(2, "X", 50, 75)),
        s"restart must neither duplicate nor lose intervals, got $got")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("streaming SCD2 emits exactly the batch twin's closed intervals") {
    implicit val sc = spark.sqlContext
    import graft.streaming.EventStream.{Change, ScdInterval}
    // user 1: A A B A  (repeat absorbed, two changes -> two closed rows)
    // user 2: X Y      (one change, split across micro-batches)
    val b1 = Seq(Change(1, 100, "A"), Change(1, 200, "A"), Change(2, 50, "X"))
    val b2 = Seq(Change(1, 300, "B"), Change(1, 400, "A"), Change(2, 75, "Y"))
    val stream = MemoryStream[Change]
    val q = EventStream.scd2Stream(stream.toDS())
      .writeStream.format("memory").queryName("scd2").outputMode("append").start()
    stream.addData(b1); q.processAllAvailable()
    stream.addData(b2); q.processAllAvailable()
    q.stop()
    val got = spark.table("scd2").as[ScdInterval].collect().toSet
    assert(got == Set(
      ScdInterval(1, "A", 100, 300), ScdInterval(1, "B", 300, 400),
      ScdInterval(2, "X", 50, 75)), s"got $got")

    // batch-twin equivalence: the same changes as an events frame through
    // qScd2Intervals; its closed rows (is_current = 0) must match. The
    // batch operator keys change detection on every event row, so feed it
    // the deduplicated change stream (ts in ns like the events table).
    val all = (b1 ++ b2).zipWithIndex.map { case (c, i) =>
      (i.toLong, c.user_id, c.ts_us * 1000L, c.event_type)
    }.toDF("event_id", "user_id", "ts", "event_type")
    val dir = java.nio.file.Files.createTempDirectory("scd2twin")
    try {
      all.write.mode("overwrite").parquet(s"$dir/events.parquet")
      val batch = graft.operators.WarehouseQueries.qScd2Intervals(spark, dir.toString)
        .filter(col("is_current") === 0)
        .select("user_id", "event_type", "valid_from_us", "valid_to_us")
        .as[(Long, String, Long, Long)].collect().toSet
      assert(batch == got.map(i => (i.user_id, i.event_type, i.valid_from_us, i.valid_to_us)),
        s"stream/batch diverge: $batch vs $got")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("stateful sessionizer closes sessions across micro-batches like batch") {
    implicit val sc = spark.sqlContext
    val M = 60L * 1000 * 1000 * 1000 // one minute in ns
    val gap = 30 * M
    // offset from epoch: time 0 would equal the initial watermark and be
    // dropped as late
    val t0 = 1000 * M
    val evs1 = Seq(Ev(1, t0, 1.0), Ev(1, t0 + 5 * M, 1.0), Ev(2, t0, 1.0))
    val evs2 = Seq(Ev(1, t0 + 60 * M, 1.0),   // closes user 1's first session
      Ev(2, t0 + 10 * M, 1.0), Ev(2, t0 + 100 * M, 1.0)) // closes user 2's first session

    val stream = MemoryStream[Ev]
    val q = EventStream.sessionizeStreamTimeout(stream.toDS(), gap)
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    stream.addData(evs1)
    q.processAllAvailable()
    stream.addData(evs2)
    q.processAllAvailable()
    q.stop()

    val got = spark.table("sessions").as[Session].collect().toSet
    assert(got == Set(
      Session(1, t0, 2, 5 * M),    // user 1: events at t0, t0+5min then gap
      Session(2, t0, 2, 10 * M)))  // user 2: events at t0, t0+10min then gap

    // batch equivalence on the closed sessions
    val all = (evs1 ++ evs2).zipWithIndex
      .map { case (e, i) => (i.toLong, e.user_id, e.ts, e.value) }
      .toDF("event_id", "user_id", "ts", "value")
    val batch = EventStream.sessionizeBatch(all, gap)
      .select("user_id", "session_start", "n_events", "duration_ns")
      .as[(Long, Long, Long, Long)].collect().toSet
    val closed = got.map(s => (s.user_id, s.session_start, s.n_events, s.duration_ns))
    assert(closed.subsetOf(batch))
  }

  test("stream-stream left outer join emits unattributed purchases at watermark expiry") {
    implicit val sc = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val views = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val q = EventStream.attributionStreamLeftOuter(
        views.toDF().toDF("event_id", "user_id", "tsm"),
        purchases.toDF().toDF("event_id", "user_id", "tsm"))
      .writeStream.format("memory").queryName("attrlo").outputMode("append").start()
    // user 1's purchase has an in-window view; user 2's has none
    views.addData((1L, 1L, ts(0)))
    purchases.addData((10L, 1L, ts(30)), (11L, 2L, ts(30)))
    q.processAllAvailable()
    // advance the watermark (min across BOTH inputs) past 10:30 + 1h
    // band + 10m lateness so purchase 11's null row can flush
    views.addData((2L, 9L, ts(300)))
    purchases.addData((12L, 9L, ts(300)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("attrlo").select("purchase_id", "view_id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(rows.contains((10L, 1L)), "matched purchase emits eagerly")
    assert(rows.contains((11L, -1L)), "unmatched purchase emits null at expiry")
    val streamNulls = rows.filter(_._2 == -1L).map(_._1)
    assert(streamNulls == Set(11L),
      "purchase 12 is still held in state (watermark never passed it)")

    // batch twin over the full event set: 11 AND 12 are unattributed
    // (12's same-instant view is not strictly earlier); the stream's
    // flushed nulls are a prefix of the batch answer
    val M = 60L * 1000000L // one minute in us
    val all = Seq(
      (1L, 1L, 0 * M, "view"), (10L, 1L, 30 * M, "purchase"),
      (11L, 2L, 30 * M, "purchase"), (2L, 9L, 300 * M, "view"),
      (12L, 9L, 300 * M, "purchase"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val batch = EventStream.unattributedBatch(all, 3600L * 1000000L)
      .select("purchase_id").as[Long].collect().toSet
    assert(batch == Set(11L, 12L))
    assert(streamNulls.subsetOf(batch))
  }

  test("transformWithState timers fire inactivity alerts on watermark progress") {
    implicit val sc = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
      val stream = MemoryStream[(Long, java.sql.Timestamp)]
      // 30-minute inactivity bound, zero lateness: watermark = max seen
      val q = EventStream.inactivityStream(
          stream.toDF().toDF("user_id", "tsm"), 30L * 60000)
        .writeStream.format("memory").queryName("quiet").outputMode("append").start()
      stream.addData((1L, ts(0)), (2L, ts(5)))
      q.processAllAvailable()
      // user 1 keeps talking (re-arms its timer); watermark reaches :40,
      // past user 2's :05+30 bound -> user 2 alerts, user 1 does not
      stream.addData((1L, ts(40)))
      q.processAllAvailable()
      // push the watermark past user 1's :40+30 bound too
      stream.addData((3L, ts(90)))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("quiet").as[EventStream.Quiet].collect()
        .map(o => o.user_id -> o.last_seen_ms).toMap
      val base = t0.getTime
      assert(got(2L) == base + 5 * 60000L, "user 2 alerts with its true last-seen")
      assert(got(1L) == base + 40 * 60000L,
        "user 1's first timer was re-armed, only the final silence alerts")
      assert(!got.contains(3L), "user 3's timer has not expired")
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState inventory stream equals the batch clamp kernel") {
    implicit val sc = spark.sqlContext
    // transformWithState requires the RocksDB state store
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // same ledger as the batch operator: purchase adds value, other
      // types drain value/4; user 1 hits the cap then drains, user 2
      // floors at 0 then caps
      val raw = Seq(
        (1L, 1L, 1L, "purchase", 600.0), (2L, 2L, 1L, "click", 500.0),
        (3L, 3L, 1L, "purchase", 600.0), (4L, 4L, 1L, "click", 2000.0),
        (5L, 1L, 2L, "click", 200.0), (6L, 2L, 2L, "purchase", 2000.0))
      def delta(ty: String, v: Double) = if (ty == "purchase") v else -v / 4
      val (b1, b2) = raw.map { case (id, t, u, ty, v) =>
        EventStream.InvEv(u, t * 1000000000L, id, delta(ty, v))
      }.partition(_.ts <= 2000000000L) // per-user ts order across batches

      val stream = MemoryStream[EventStream.InvEv]
      val q = EventStream.inventoryStream(stream.toDS())
        .writeStream.format("memory").queryName("invtws").outputMode("append").start()
      stream.addData(b1)
      q.processAllAvailable()
      stream.addData(b2)
      q.processAllAvailable()
      q.stop()
      val got = spark.table("invtws").as[EventStream.InvOut].collect()
        .map(o => (o.user_id, o.event_id) -> o.balance).toMap

      val tmp = java.nio.file.Files.createTempDirectory("invtws")
      try {
        raw.toDF("event_id", "tsec", "user_id", "event_type", "value")
          .withColumn("ts", col("tsec") * 1000000000L).drop("tsec")
          .write.mode("overwrite").parquet(s"$tmp/events.parquet")
        val batch = graft.operators.LedgerQueries.w17Inventory(spark, tmp.toString)
          .collect()
          .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id")) ->
            r.getAs[Double]("balance")).toMap
        assert(got == batch)
        assert(got((1L, 3L)) == 1000.0 && got((2L, 5L)) == 0.0)
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      }
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("watermark semantics pin: late-filter lags one batch; drop metric counts partials") {
    // Pins the two engine behaviors the StreamLate replica harness
    // measured (scale/StreamLate.scala scaladoc, SPARK-42376): Spark
    // carries TWO watermarks per stateful operator — late-event
    // filtering uses the PREVIOUS batch's watermark (max event time
    // through batch b−2, − delay), so a row late by ONE batch boundary
    // is kept and one late by TWO drops; and numRowsDroppedByWatermark
    // counts dropped PARTIAL aggregates (≥1 when drops occur, ≤ the
    // dropped input-row count). If a Spark upgrade changes either, this
    // fails here instead of leaving a stale comment.
    implicit val sc = spark.sqlContext
    @volatile var droppedPartials = 0L
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        droppedPartials += e.progress.stateOperators.map(_.numRowsDroppedByWatermark).sum
    }
    spark.streams.addListener(listener)
    // the lag is one MICRO-batch: a no-data batch (which
    // processAllAvailable otherwise appends after every addData, and
    // which a continuously-fed file/AvailableNow replay like StreamLate
    // never interleaves) advances the lagged watermark too — disable it
    // so one addData == one batch boundary, matching the replay model
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
      val stream = MemoryStream[java.sql.Timestamp]
      val q = stream.toDF().toDF("event_time")
        .withWatermark("event_time", "0 seconds")
        .groupBy(window(col("event_time"), "1 minute")).agg(count(lit(1)).as("n"))
        .select(col("window.start").as("wstart"), col("n"))
        .writeStream.format("memory").queryName("wmpin").outputMode("append").start()
      // batch 1: wm candidate 10:01:00 (window [10:01,10:02))
      stream.addData(Seq(ts("10:01:00"))); q.processAllAvailable()
      // batch 2: late filter wm = through batch 0 = -inf, so the
      // 10:00:00 row (window [10:00,10:01), one boundary late — its end
      // is already ≤ the CURRENT wm 10:01:00) must be KEPT; the window
      // then emits at end of batch 2 with exactly this row.
      stream.addData(Seq(ts("10:10:00"), ts("10:00:00"))); q.processAllAvailable()
      // batch 3: late filter wm = through batch 1 = 10:01:00 — all three
      // [10:00,10:01) rows are now two boundaries late and must DROP.
      stream.addData(Seq(ts("10:00:30"), ts("10:00:40"), ts("10:00:50")))
      q.processAllAvailable()
      // batches 4–5: two wm advances flush [10:10) (eviction uses the
      // CURRENT wm — through b−1 — so the 11:00 advance lands in b5)
      stream.addData(Seq(ts("11:00:00"))); q.processAllAvailable()
      stream.addData(Seq(ts("12:00:00"))); q.processAllAvailable()
      q.stop()

      val got = spark.table("wmpin").as[(java.sql.Timestamp, Long)]
        .collect().sortBy(_._1.getTime).toSeq
      // [10:00): n=1 — the one-boundary-late row kept, the two-boundary
      // rows excluded, and NO re-emission of the closed window (a second
      // 10:00 row would appear here if the dropped rows had been kept)
      assert(got == Seq((ts("10:00:00"), 1L), (ts("10:01:00"), 1L), (ts("10:10:00"), 1L)),
        s"emitted windows diverge from the dual-watermark model: $got")
      assert(droppedPartials >= 1L && droppedPartials <= 3L,
        s"drop metric should count partial aggregates in [1, 3 input rows], " +
          s"got $droppedPartials")
    } finally {
      spark.streams.removeListener(listener)
      spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
    }
  }
}
