package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over the events schema (driver
  * north-star; the reference itself is batch-only — SURVEY.md §2.9 notes
  * no streaming surface is needed for parity, so this is engine-native
  * capability).
  *
  * The transforms are written once and applied to BOTH batch and
  * streaming frames — Spark's unification means the same groupBy(window)
  * plan runs incrementally under a watermark in a stream.
  */
object EventStream {

  /** Tumbling-window counts/sums per event type. `events` needs a
    * timestamp column `tsm`; works on batch and streaming frames alike. */
  def windowedAgg(events: DataFrame, width: String = "1 hour"): DataFrame =
    events.groupBy(window(col("tsm"), width), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("wstart"), col("event_type"),
        col("n"), col("sum_value"))

  /** Same aggregation as an incremental stream with a watermark. */
  def windowedAggStream(events: DataFrame, width: String = "1 hour",
      lateness: String = "10 minutes"): DataFrame =
    windowedAgg(events.withWatermark("tsm", lateness), width)

  /** Stream-static enrichment: join each event against a STATIC
    * dimension (`dim`: user_id → segment) and aggregate per window ×
    * segment. The static side broadcasts — in a stream this is the only
    * join flavor that needs no state store at all (the dim is re-read
    * per micro-batch), which is why enrich-then-aggregate is the
    * canonical first streaming stage at any scale. Inner join: events
    * without a dim row are dropped (the stream-static contract). */
  def enrichBatch(events: DataFrame, dim: DataFrame,
      width: String = "1 hour"): DataFrame =
    events.join(broadcast(dim), "user_id")
      .groupBy(window(col("tsm"), width), col("segment"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("wstart"), col("segment"),
        col("n"), col("sum_value"))

  /** Incremental form: watermarked stream, same broadcast static join. */
  def enrichStream(events: DataFrame, dim: DataFrame,
      width: String = "1 hour", lateness: String = "10 minutes"): DataFrame =
    enrichBatch(events.withWatermark("tsm", lateness), dim, width)

  /** Batch trending: top-k event types per tumbling window by count
    * (count desc, name tiebreak). The batch twin of [[trendingStream]];
    * the operator-catalog form over bucketed hours is
    * ExtendedQueries.k7WindowTopk. */
  def trendingBatch(events: DataFrame, k: Int, width: String = "1 hour"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("wstart").orderBy(col("n").desc, col("event_type"))
    windowedAgg(events, width)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("wstart", "event_type", "n", "rk")
  }

  /** Streaming trending top-k: rank functions are not allowed on a
    * streaming aggregate, but complete-mode `orderBy().limit(k)` is —
    * each micro-batch re-emits the current global top-k rows. State is
    * the windowed count table (bounded by the watermark horizon); the
    * sort sees only the aggregate, never raw events. For per-window
    * top-k at scale, run [[windowedAggStream]] and rank inside
    * foreachBatch instead (each micro-batch output is a bounded frame). */
  def trendingStream(events: DataFrame, k: Int, width: String = "1 hour",
      lateness: String = "10 minutes"): DataFrame =
    windowedAggStream(events, width, lateness)
      .orderBy(col("n").desc, col("wstart"), col("event_type"))
      .limit(k)

  /** Batch sessionization: a session breaks when the gap to the previous
    * event exceeds gapNs. Pure window functions — oracle-expressible. */
  def sessionizeBatch(events: DataFrame, gapNs: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > gapNs, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(w.rowsBetween(Long.MinValue, 0)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        (max(col("ts")) - min(col("ts"))).as("duration_ns"))
  }

  /** Spark's NATIVE sessionization — `session_window(tsm, gap)` merges
    * each key's overlapping [t, t+gap) windows into sessions inside the
    * aggregation itself (no lag/running-sum prelude, and in streaming
    * it runs on the session-window state store rather than
    * flatMapGroupsWithState). Boundary semantics differ from
    * [[sessionizeBatch]] by one instant: a gap of EXACTLY `gap` starts
    * a new session here (windows must overlap to merge) but continues
    * the session there (`> gap` starts one) — the oracle implements
    * this rule, `>= gap`, explicitly. Emitted bounds: start = first
    * event, end = last event + gap. */
  def sessionWindowBatch(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("tsm"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))

  /** Incremental form: watermarked stream, same merge-based operator;
    * append mode emits a session once the watermark passes its end. */
  def sessionWindowStream(events: DataFrame, gap: String = "30 minutes",
      lateness: String = "10 minutes"): DataFrame =
    sessionWindowBatch(events.withWatermark("tsm", lateness), gap)

  /** Exact dedup of re-delivered events on a content key (batch form):
    * keeps the lowest event_id per key and reports how often the key was
    * seen. One keyed shuffle — the same shape at any scale.
    *
    * Equivalence caveat: [[dedupStream]] keeps the FIRST ARRIVAL per key,
    * while this keeps min(event_id). The two agree only when redelivered
    * events carry larger event_ids than the original (true for the
    * synthesized events corpus, and typical of log-structured sources,
    * but not guaranteed in general). To dedup by arrival order in batch,
    * key the keeper on an explicit arrival column instead of event_id. */
  def dedupBatch(events: DataFrame, keys: Seq[String]): DataFrame =
    events.groupBy(keys.map(col): _*)
      .agg(min(col("event_id")).as("event_id"), count(lit(1)).as("n_seen"))

  /** Streaming form: dropDuplicatesWithinWatermark keeps the first
    * arrival per key and expires its state once the watermark passes —
    * the unbounded-stream answer to exact dedup (state is bounded by the
    * lateness horizon, not the stream length). Requires an event-time
    * column `tsm`. */
  def dedupStream(events: DataFrame, keys: Seq[String],
      lateness: String = "10 minutes"): DataFrame =
    events.withWatermark("tsm", lateness)
      .dropDuplicatesWithinWatermark(keys)

  /** Batch view→purchase attribution pairs: every (view, purchase) of the
    * same user where the view precedes the purchase by ≤ windowNs. The
    * scale shape is an equi-join on user_id (one keyed shuffle) with the
    * time band as a post-join filter — never a cross product. */
  def attributionPairs(events: DataFrame, windowNs: Long): DataFrame = {
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    p.join(v, col("user_id") === col("v_user") &&
        col("v_ts") < col("p_ts") && col("v_ts") >= col("p_ts") - windowNs)
      .select("purchase_id", "user_id", "p_ts", "view_id", "v_ts")
  }

  /** Roll-up of [[attributionPairs]]: per purchase, how many views led to
    * it and the first of them (first-touch attribution). */
  def attributionBatch(events: DataFrame, windowNs: Long): DataFrame =
    attributionPairs(events, windowNs)
      .groupBy("purchase_id", "user_id")
      .agg(count(lit(1)).as("n_views"), min(col("v_ts")).as("first_view_ts"))

  /** Streaming form: a stream-stream inner join under watermarks. The
    * event-time band (v_tsm in [p_tsm − window, p_tsm)) bounds how long
    * view state must be retained, so state stays proportional to the
    * attribution window, not the stream length. Both inputs need an
    * event-time column `tsm`. */
  def attributionStream(views: DataFrame, purchases: DataFrame,
      windowSpec: String = "1 hour", lateness: String = "10 minutes"): DataFrame = {
    val v = views.withWatermark("tsm", lateness)
      .select(col("user_id").as("v_user"), col("tsm").as("v_tsm"),
        col("event_id").as("view_id"))
    val p = purchases.withWatermark("tsm", lateness)
      .select(col("user_id"), col("tsm").as("p_tsm"),
        col("event_id").as("purchase_id"))
    p.join(v, col("user_id") === col("v_user") &&
      col("v_tsm") < col("p_tsm") &&
      col("v_tsm") >= col("p_tsm") - expr(s"INTERVAL $windowSpec"))
      .select("purchase_id", "user_id", "view_id")
  }

  /** Batch complement of [[attributionBatch]]: purchases with NO view of
    * the same user in the preceding window — the unattributed-revenue
    * audit. A left-anti join on the same keyed band: one user_id
    * shuffle, the band as the join condition, no pair ever
    * materializes. */
  def unattributedBatch(events: DataFrame, windowNs: Long): DataFrame = {
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    p.join(v, col("user_id") === col("v_user") &&
        col("v_ts") < col("p_ts") && col("v_ts") >= col("p_ts") - windowNs,
        "left_anti")
      .select("purchase_id", "user_id", "p_ts")
  }

  /** Streaming form: a stream-stream LEFT OUTER join under watermarks —
    * Spark emits the matched pairs eagerly and holds each unmatched
    * purchase in state until the watermark proves no in-band view can
    * still arrive, THEN emits it with a null view_id (the outer-side
    * null row is a watermark-driven event, not a per-batch one — the
    * semantics the inner form cannot express). Filtering the output to
    * null view_ids yields exactly [[unattributedBatch]] once the stream
    * drains (StreamingSpec pins the equivalence). */
  def attributionStreamLeftOuter(views: DataFrame, purchases: DataFrame,
      windowSpec: String = "1 hour", lateness: String = "10 minutes"): DataFrame = {
    val v = views.withWatermark("tsm", lateness)
      .select(col("user_id").as("v_user"), col("tsm").as("v_tsm"),
        col("event_id").as("view_id"))
    val p = purchases.withWatermark("tsm", lateness)
      .select(col("user_id"), col("tsm").as("p_tsm"),
        col("event_id").as("purchase_id"))
    p.join(v, col("user_id") === col("v_user") &&
      col("v_tsm") < col("p_tsm") &&
      col("v_tsm") >= col("p_tsm") - expr(s"INTERVAL $windowSpec"),
      "left_outer")
      .select("purchase_id", "user_id", "p_tsm", "view_id")
  }

  // ---- streaming sessionization (custom state, flatMapGroupsWithState) ----

  case class Ev(user_id: Long, ts: Long, value: Double)
  case class SessionState(start: Long, last: Long, n: Long)
  case class Session(user_id: Long, session_start: Long, n_events: Long, duration_ns: Long)

  /** Per-user stateful sessionizer: closes a session when a later event
    * arrives more than gapNs after the last one, and flushes an idle
    * user's open session once the watermark passes its last event + gap
    * (an EVENT-TIME TIMEOUT), so a user who never returns leaves no
    * state behind. State per key is one (start, last, n) triple; the
    * timeout is re-armed on every update. An event at or before the
    * watermark, which starts at epoch 0, is dropped as late. Events are
    * sorted within a micro-batch only: each user's events must arrive
    * in time order across batches. Batch twin:
    * [[sessionizeBatch]] (StreamingSpec pins the closed sessions and
    * the flush). */
  def sessionizeStreamTimeout(events: Dataset[Ev], gapNs: Long,
      lateness: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withColumn("tsm", expr("timestamp_micros(ts div 1000)"))
      .withWatermark("tsm", lateness)
      .as[(Long, Long, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, evs, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(Session(user, st.start, st.n, st.last - st.start))
          } else {
            val sorted = evs.toSeq.sortBy(_._2)
            var cur = state.getOption
            val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
            sorted.foreach { e =>
              cur match {
                case Some(st) if e._2 - st.last <= gapNs =>
                  cur = Some(st.copy(last = e._2, n = st.n + 1))
                case Some(st) =>
                  closed += Session(user, st.start, st.n, st.last - st.start)
                  cur = Some(SessionState(e._2, e._2, 1))
                case None =>
                  cur = Some(SessionState(e._2, e._2, 1))
              }
            }
            cur.foreach { st =>
              state.update(st)
              // flush when the WATERMARK (event time) passes last + gap
              state.setTimeoutTimestamp(st.last / 1000000L + gapNs / 1000000L)
            }
            closed.iterator
          }
      }
  }

  // ---- streaming SCD2 (type-2 dimension history from a change stream) ----

  case class Change(user_id: Long, ts_us: Long, event_type: String)
  case class ScdState(curType: String, curFrom: Long)
  case class ScdInterval(user_id: Long, event_type: String,
      valid_from_us: Long, valid_to_us: Long)

  /** Streaming SCD2 interval build: per key, each arriving change either
    * extends the current validity interval (same type — absorbed) or
    * closes it at the new change's timestamp, emitting the CLOSED
    * interval; the open interval lives in state until the next change.
    * State is one (type, from) pair per key — constant, not
    * event-grain. Events are folded in ts order within each batch;
    * cross-batch reordering would need event-time buffering (same
    * declared caveat as [[sessionizeStreamTimeout]]). Batch twin:
    * [[graft.operators.WarehouseQueries.qScd2Intervals]] restricted to
    * its closed rows (`is_current = 0`) — StreamingSpec proves the
    * emitted sets equal. */
  def scd2Stream(changes: Dataset[Change]): Dataset[ScdInterval] = {
    import changes.sparkSession.implicits._
    changes.groupByKey(_.user_id)
      .flatMapGroupsWithState[ScdState, ScdInterval](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, evs, state: GroupState[ScdState]) =>
          val sorted = evs.toSeq.sortBy(_.ts_us)
          var cur = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer.empty[ScdInterval]
          sorted.foreach { e =>
            cur match {
              case Some(st) if st.curType == e.event_type => // absorbed
              case Some(st) =>
                closed += ScdInterval(user, st.curType, st.curFrom, e.ts_us)
                cur = Some(ScdState(e.event_type, e.ts_us))
              case None =>
                cur = Some(ScdState(e.event_type, e.ts_us))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }
  }

  // ---- streaming distinct-count sketch (HLL registers as state) ----

  case class KeyedEv(wstart: Long, key: String)
  case class HllEstimate(wstart: Long, est: Double)

  /** Streaming distinct-count per window: the state per window key is
    * the 2^p-byte HLL register array — CONSTANT state regardless of how
    * many distinct keys the window sees (contrast
    * dropDuplicatesWithinWatermark, whose state grows with the key
    * set). Each micro-batch max-merges its keys' registers into state
    * and re-emits the window's updated estimate; registers are
    * merge-invariant, so the final estimate equals the batch query's
    * bit-for-bit (sketch.Sketches.hllUpdateRegs/hllEstimateFromRegs are
    * the engine expressions' Scala twins). */
  def hllDistinctStream(events: Dataset[KeyedEv], p: Int = 8): Dataset[HllEstimate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.wstart)
      .mapGroupsWithState[Array[Byte], HllEstimate](
        GroupStateTimeout.NoTimeout()) {
        case (wstart, evs, state: GroupState[Array[Byte]]) =>
          val regs = state.getOption.getOrElse(new Array[Byte](1 << p))
          evs.foreach(e => graft.sketch.Sketches.hllUpdateRegs(regs, e.key, p))
          state.update(regs)
          HllEstimate(wstart,
            graft.sketch.Sketches.hllEstimateFromRegs(regs, p))
      }
  }

  case class CmsUpdate(wstart: Long, key: String, est: Long)

  /** Streaming frequency sketch per window: state = the depth×width
    * Count-Min cell array (a few KB, constant in the key cardinality);
    * each micro-batch increments cells for its occurrences and re-emits
    * the updated estimate for every key it saw. Cell updates are
    * integer adds — commutative across batches — so a key's final
    * estimate equals the batch sketch's exactly
    * (Sketches.cmsUpdateCells/cmsEstimateFromCells are the engine
    * expressions' Scala twins). */
  def cmsHeavyStream(events: Dataset[KeyedEv], depth: Int = 4,
      width: Int = 64): Dataset[CmsUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.wstart)
      .flatMapGroupsWithState[Array[Long], CmsUpdate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (wstart, evs, state: GroupState[Array[Long]]) =>
          val cells = state.getOption.getOrElse(new Array[Long](depth * width))
          val seen = scala.collection.mutable.LinkedHashSet.empty[String]
          evs.foreach { e =>
            graft.sketch.Sketches.cmsUpdateCells(cells, e.key, depth, width)
            seen += e.key
          }
          state.update(cells)
          seen.iterator.map(k => CmsUpdate(wstart, k,
            graft.sketch.Sketches.cmsEstimateFromCells(cells, k, depth, width)))
      }
  }

  case class InvEv(user_id: Long, ts: Long, event_id: Long, delta: Double)
  case class InvOut(user_id: Long, event_id: Long, balance: Double)

  /** Per-user clamped-inventory processor for [[inventoryStream]] —
    * Spark 4's transformWithState API (the arbitrary-state successor to
    * flatMapGroupsWithState, RocksDB-backed): state is ONE double per
    * user (the current balance), each micro-batch folds its rows in
    * (ts, event_id) order through the batch kernel's add-then-clamp step
    * (operators.LedgerQueries.inventoryStep). transformWithState has no
    * sorted-group form, so the batch is sorted here. */
  class InventoryProcessor(cap: Double)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, InvEv, InvOut] {
    @transient private var bal: org.apache.spark.sql.streaming.ValueState[Double] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      bal = getHandle.getValueState[Double]("bal",
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[InvEv],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[InvOut] = {
      var b = if (bal.exists()) bal.get() else 0.0
      val out = rows.toArray.sortBy(e => (e.ts, e.event_id)).map { e =>
        b = graft.operators.LedgerQueries.inventoryStep(b, e.delta, cap)
        InvOut(key, e.event_id, b)
      }
      bal.update(b)
      out.iterator
    }
  }

  case class Quiet(user_id: Long, last_seen_ms: Long)

  /** Event-time TIMER processor: emits (user, last_seen) once a user
    * has been silent past the inactivity bound — the push-based "gone
    * quiet" alert that polling a batch query can't express. State is
    * one ValueState[Long] (last event time); every batch re-arms a
    * single event-time timer at last+bound (deleting the stale one),
    * and the expiry callback — fired by watermark progress, not by the
    * user's own data — emits and clears. Together with
    * [[InventoryProcessor]] this covers both halves of Spark 4's
    * transformWithState contract: data-driven updates and
    * watermark-driven timers. */
  class InactivityProcessor(boundMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), Quiet] {
    @transient private var last: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      last = getHandle.getValueState[Long]("last",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[Quiet] = {
      val newest = rows.map(_._2).max
      val prev = if (last.exists()) last.get() else Long.MinValue
      if (newest > prev) {
        if (prev != Long.MinValue) getHandle.deleteTimer(prev + boundMs)
        last.update(newest)
        getHandle.registerTimer(newest + boundMs)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[Quiet] = {
      val seen = last.get()
      last.clear()
      Iterator.single(Quiet(key, seen))
    }
  }

  /** Inactivity alerts over a stream of (user_id, event_time_ms): a
    * row appears exactly when the watermark passes a user's last event
    * + bound. Input needs an event-time column `tsm` for the watermark
    * that drives the timers. */
  def inactivityStream(events: DataFrame, boundMs: Long,
      lateness: String = "0 seconds"): Dataset[Quiet] = {
    import events.sparkSession.implicits._
    events.withWatermark("tsm", lateness)
      .select(col("user_id").cast("long"),
        expr("unix_millis(tsm)").as("ms"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new InactivityProcessor(boundMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Streaming twin of the clamped-inventory ledger: balances evolve
    * across micro-batches with O(1) state per user. Output equals the
    * batch kernel's when each user's events arrive in ts order across
    * batches (the same in-order-delivery caveat as dedupStream;
    * within a batch any order is fine — the processor sorts).
    * StreamingSpec drives both and compares. */
  def inventoryStream(events: Dataset[InvEv], cap: Double = 1000.0): Dataset[InvOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new InventoryProcessor(cap),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }
}
