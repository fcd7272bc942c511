package graft.scale

import graft.Graft
import graft.io.ApiJson.jstr
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

/** Replica-scale late-data / out-of-order replay: make watermark drops
  * ACTUALLY happen across micro-batch boundaries, then reconcile the
  * stream's dropped-row accounting row-for-row against a batch oracle.
  *
  * Arrival model: the s10 late-data audit's displacement rule
  * (event_id % 10 = 3 ⇒ late) applied to a time-ordered stream — each
  * marked row ARRIVES `displaceS` seconds of stream time after its
  * event time (arr = ts + displaceS), everything else arrives in event
  * order. Files are range-partitioned on the arrival axis and replayed
  * one per trigger, so a displaced row whose event time predates an
  * earlier batch's watermark is genuinely late ACROSS a batch boundary.
  *
  * Stream under test: a 1-hour tumbling event-time count with
  * watermark `delayS` in APPEND mode — the stateful op whose late-drop
  * and emission semantics are both exactly batch-simulable. (Streaming
  * dropDuplicates deliberately does NOT drop late input — measured
  * here: 0 drops over 1 M rows — so it cannot carry this proof.)
  * Spark ≥3.5 carries TWO watermarks per stateful operator
  * (SPARK-42376, verified against this build's behavior): late-event
  * filtering uses the PREVIOUS batch's watermark (max event time
  * through batch b−2, ms-floored, − delay) — so a row must be late
  * across two batch boundaries to drop — while state eviction/emission
  * uses the current one (through b−1). A row in batch b drops iff its
  * window closed before the late-events watermark (window_end − 1 ≤
  * lateWm(b)); a window emits once the eviction watermark passes its
  * end, and the lag guarantees an emitted window can never re-emit (a
  * row for it would always fail the late filter first). The batch twin
  * replays those rules per batch (file order = batch order = arrival
  * order by construction) and the harness requires:
  *   1. the sink table == the batch-simulated emitted windows with
  *      identical counts (exceptAll empty both ways — the row-for-row
  *      statement that every late row was really excluded),
  *   2. total = dropped + emitted + pending-in-state rows, exactly,
  *   3. every dropped row is s10-displaced (drops ⊆ the late set the
  *      catalog's s10 audit bands),
  *   4. the numRowsDroppedByWatermark metrics are nonzero and ≤ the
  *      row-level drop count — the metric counts dropped PARTIAL
  *      aggregates (the late filter runs above the map-side partial
  *      agg, so one dropped (batch, window, partition) partial can
  *      stand for many input rows; measured ~80:1 here), and
  *   5. row-level drops > 0 — a replay that never crossed a boundary
  *      proves nothing and fails loudly.
  *
  * Usage: runMain graft.scale.StreamLate <sfDir> [files=256] [delayS=60] [displaceS=14400]
  */
object StreamLate {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val nFiles = if (args.length > 1) args(1).toInt else 256
    val delayS = if (args.length > 2) args(2).toLong else 60L
    val displaceS = if (args.length > 3) args(3).toLong else 14400L
    val spark = Graft.envSession()

    val replayDir = "target/tmp/late_replay"
    val base = s"target/tmp/late_${System.nanoTime()}"

    // --- Arrival-ordered replay corpus.
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(replayDir))
    val ev = Graft.table(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("tsu"), // µs — the timestamp grid Spark sees
        (col("ts") + when(col("event_id") % 10 === 3, displaceS * 1000000000L)
          .otherwise(0L)).as("arr"))
    ev.repartitionByRange(nFiles, col("arr"))
      .sortWithinPartitions("arr")
      .write.mode("overwrite").parquet(replayDir)
    val parts = new java.io.File(replayDir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val mbase = System.currentTimeMillis() - parts.length * 2000L
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(mbase + i * 2000L) }
    val total = spark.read.parquet(replayDir).count()
    System.err.println(s"[stream-late] corpus: $total rows, ${parts.length} files")

    // --- Stream: 1-hour tumbling windowed event-time count with a
    // watermark, one file per batch.
    @volatile var streamDrops = 0L
    @volatile var batches = 0L
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        batches += 1
        streamDrops += e.progress.stateOperators
          .map(_.numRowsDroppedByWatermark).sum
      }
    }
    spark.streams.addListener(listener)
    val sch = spark.read.parquet(replayDir).schema
    val t0 = System.nanoTime()
    val q = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).option("latestFirst", "false")
      .parquet(replayDir)
      .withColumn("event_time", timestamp_micros(col("tsu")))
      .withWatermark("event_time", s"$delayS seconds")
      .groupBy(window(col("event_time"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("wstart"), col("n"))
      .writeStream.format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/ck")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    spark.streams.removeListener(listener)

    // --- Batch oracle: replay the watermark rule per batch. File order
    // is arrival order (range partition + staggered mtimes), one file
    // per batch; watermark for batch b = floor-to-ms of the max event
    // time over batches < b, minus the delay.
    val byFile = spark.read.parquet(replayDir)
      .withColumn("file", input_file_name())
    // key by basename: input_file_name()'s URI scheme differs from
    // File.toURI's (file:/ vs file:///)
    val fileOrder = parts.map(_.getName).zipWithIndex.toMap
    val fo = spark.sparkContext.broadcast(fileOrder)
    import spark.implicits._
    val withBatch = byFile.select(col("event_id"), col("tsu"), col("file"))
      .as[(Long, Long, String)]
      .map { case (id, tsu, f) =>
        (id, tsu, fo.value(f.substring(f.lastIndexOf('/') + 1)))
      }
      .toDF("event_id", "tsu", "batch")
    val maxPerBatch = withBatch.groupBy("batch").agg(max("tsu").as("mx"))
      .orderBy("batch").as[(Int, Long)].collect()
    // wmUs(b) = the LATE-EVENTS watermark batch b ran with: max event
    // time through batch b−2 (one batch older than the eviction wm)
    val wmUs = new Array[Long](maxPerBatch.length)
    var cummax = Long.MinValue // through b−2
    var prevMx = Long.MinValue // batch b−1's max, folded in next round
    for ((b, mx) <- maxPerBatch) {
      wmUs(b) = if (cummax == Long.MinValue) Long.MinValue
        else (cummax / 1000 - delayS * 1000L) * 1000L
      cummax = math.max(cummax, prevMx)
      prevMx = mx
    }
    val finalCummax = math.max(cummax, prevMx)
    // eviction wm of the trailing flush batch = global max − delay
    val finalWm = (finalCummax / 1000 - delayS * 1000L) * 1000L
    val windowUs = 3600L * 1000000L
    val wmB = spark.sparkContext.broadcast(wmUs)
    // a row drops iff its window had already closed under the
    // late-events watermark (a [s, e) window holds times ≤ e − 1)
    val winEnd = (col("tsu").cast("long") / windowUs).cast("long") * windowUs + windowUs
    val tagged = withBatch
      .withColumn("wend", winEnd)
      .withColumn("wm", udf((b: Int) => wmB.value(b)).apply(col("batch")))
    val dropped = tagged.filter(col("wm") =!= Long.MinValue &&
      col("wend") - 1 <= col("wm"))
    val simDrops = dropped.count()
    // every dropped row must be one the s10 displacement rule marked late
    val droppedOnTime = dropped.filter(col("event_id") % 10 =!= 3).count()
    // surviving rows accumulate; a window emits once the final
    // watermark passes its end — later rows stay pending in state
    val surviving = tagged.filter(col("wm") === Long.MinValue ||
      col("wend") - 1 > col("wm"))
    val simWindows = surviving
      .groupBy((col("wend") - windowUs).as("wstart")).agg(count(lit(1)).as("n"))
    val simEmitted = simWindows.filter(col("wstart") + windowUs - 1 <= finalWm)
    val simPendingRows = simWindows.filter(col("wstart") + windowUs - 1 > finalWm)
      .agg(coalesce(sum("n"), lit(0L))).head().getLong(0)
    val simEmittedRows = simEmitted.agg(coalesce(sum("n"), lit(0L))).head().getLong(0)

    val out = spark.read.parquet(s"$base/out").select("wstart", "n")
    val outN = out.count()
    val outRows = out.agg(coalesce(sum("n"), lit(0L))).head().getLong(0)
    val aMinusB = out.exceptAll(simEmitted.select("wstart", "n")).count()
    val bMinusA = simEmitted.select("wstart", "n").exceptAll(out).count()
    val identical = aMinusB == 0 && bMinusA == 0 &&
      outRows + simDrops + simPendingRows == total
    val nonVacuous = simDrops > 0 && droppedOnTime == 0 &&
      streamDrops > 0 && streamDrops <= simDrops

    println(s"""{"metric":"stream_late","sf_dir":${jstr(sfDir)},""" +
      s""""total_rows":$total,"files":${parts.length},"batches":$batches,""" +
      s""""delay_s":$delayS,"displace_s":$displaceS,""" +
      s""""displaced_rows":${spark.read.parquet(replayDir)
        .filter(col("event_id") % 10 === 3).count()},""" +
      s""""dropped_rows":$simDrops,"stream_dropped_partials":$streamDrops,""" +
      s""""dropped_non_displaced":$droppedOnTime,""" +
      s""""emitted_windows":$outN,"emitted_rows":$outRows,""" +
      s""""sim_emitted_rows":$simEmittedRows,"pending_rows":$simPendingRows,""" +
      s""""out_minus_sim":$aMinusB,"sim_minus_out":$bMinusA,""" +
      s""""identical":$identical,"nonzero_drops":$nonVacuous,""" +
      s""""wall_s":${f"$wall%.2f"}}""")
    if (!identical || !nonVacuous) sys.exit(1)
    spark.stop()
  }
}
