package graft.scale

import graft.Graft
import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** Replica-scale streaming gate: replays a scale replica's events table
  * through the stateful stream twins (s1 windowed agg, s2 sessionize
  * with event-time timeout, s6 HLL registers, s7 CMS cells, w17
  * transformWithState inventory) as a RATE-LIMITED file-source stream,
  * and reports per-query throughput (rows/s) and state-store footprint
  * (peak memory bytes + final state rows) from the progress metrics.
  *
  * Replay realism: the events are re-written time-ordered into N
  * range-partitioned part files whose modification times ascend with
  * event time, so `maxFilesPerTrigger` delivers micro-batches in
  * arrival order — watermarks advance, sessions close incrementally,
  * and per-user cross-batch order holds (the documented in-order
  * caveat of the sessionize/inventory twins). State store is RocksDB
  * throughout (required by transformWithState; the production provider
  * whose memory numbers mean something at scale).
  *
  * Usage: runMain graft.scale.StreamScale <sfDir> [files=32] [filesPerTrigger=2]
  */
object StreamScale {

  private def jq(s: String): String = "\"" + s + "\""

  /** Accumulates progress across ALL micro-batches via the listener bus.
    * `q.recentProgress` is capped at spark.sql.streaming
    * .numRecentProgressUpdates (default 100), so a replay with more
    * micro-batches than that would silently undercount rows/batches and
    * miss the true state peak — exactly the large-replica runs this
    * harness exists for. The listener sees every progress event. */
  private final class ProgressAcc extends StreamingQueryListener {
    final class Acc {
      var rows = 0L; var batches = 0L; var stateRows = 0L; var peakBytes = 0L
    }
    private val byId = scala.collection.concurrent.TrieMap.empty[java.util.UUID, Acc]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val a = byId.getOrElseUpdate(p.id, new Acc)
      a.synchronized {
        a.rows += p.numInputRows
        if (p.numInputRows > 0) a.batches += 1
        p.stateOperators.headOption.foreach { so =>
          a.stateRows = so.numRowsTotal
          a.peakBytes = math.max(a.peakBytes, so.memoryUsedBytes)
        }
      }
    }
    /** Listener delivery is async — poll until the accumulator stops
      * moving (stable for 300 ms, max 10 s) after awaitTermination. */
    def settled(id: java.util.UUID): Acc = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var last = -1L
      while (System.nanoTime() < deadline) {
        val cur = byId.get(id).map(a => a.synchronized(a.rows + a.batches)).getOrElse(0L)
        if (cur == last) return byId.getOrElseUpdate(id, new Acc)
        last = cur
        Thread.sleep(300)
      }
      byId.getOrElseUpdate(id, new Acc)
    }
  }

  /** Run one streaming query to completion (AvailableNow) and return a
    * JSON metrics fragment built from listener-accumulated progress. */
  private def measure(name: String, q: StreamingQuery, acc: ProgressAcc): String = {
    val t0 = System.nanoTime()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    val a = acc.settled(q.id)
    val (rows, batches, stateRows, peakBytes) =
      a.synchronized((a.rows, a.batches, a.stateRows, a.peakBytes))
    val rps = if (wall > 0) rows / wall else 0.0
    s"""${jq(name)}:{"rows":$rows,"wall_s":${f"$wall%.2f"},"rows_per_s":${f"$rps%.0f"},""" +
      s""""batches":$batches,"state_rows":$stateRows,"state_bytes_peak":$peakBytes}"""
  }

  /** Replay layout shared by the scale/recovery harnesses: the events
    * table re-written as time-ordered range files with ascending mtimes
    * (range partition index == part-file index == time order), so
    * `maxFilesPerTrigger` delivers micro-batches in arrival order.
    * Returns (totalRows, nPartFiles). */
  def prepareReplay(spark: SparkSession, sfDir: String, nFiles: Int,
      replayDir: String): (Long, Int) = {
    import org.apache.spark.sql.functions.col
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(replayDir))
    val ev = Graft.table(spark, sfDir, "events") // ts normalized to epoch-ns long
      .select("event_id", "ts", "user_id", "event_type", "value")
    ev.repartitionByRange(nFiles, col("ts"))
      .sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(replayDir)
    val parts = new java.io.File(replayDir).listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    val base = System.currentTimeMillis() - parts.length * 2000L
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(base + i * 2000L) }
    (spark.read.parquet(replayDir).count(), parts.length)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val nFiles = if (args.length > 1) args(1).toInt else 32
    val perTrigger = if (args.length > 2) args(2).toInt else 2
    val spark = Graft.envSession("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._

    val replayDir = "target/tmp/stream_replay"
    val ckBase = s"target/tmp/stream_ck_${System.nanoTime()}"
    val (totalRows, nParts) = prepareReplay(spark, sfDir, nFiles, replayDir)
    System.err.println(s"[stream-scale] replay corpus: $totalRows rows, $nParts files")

    val sch = spark.read.parquet(replayDir).schema
    def stream(): DataFrame = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", perTrigger)
      .option("latestFirst", "false")
      .parquet(replayDir)
    // The sink mode must match each operator's contract: Append for the
    // flatMapGroupsWithState/transformWithState twins declared Append,
    // Update for mapGroupsWithState (s6) and the Update-mode CMS (s7).
    val acc = new ProgressAcc
    spark.streams.addListener(acc)
    def run(name: String, mode: String)(build: DataFrame => DataFrame): String = {
      val q = build(stream()).writeStream.format("noop")
        .option("checkpointLocation", s"$ckBase/$name")
        .outputMode(mode)
        .trigger(Trigger.AvailableNow()).start()
      measure(name, q, acc)
    }

    val results = Seq(
      run("s1_window_agg", "update") { df =>
        EventStream.windowedAggStream(
          df.withColumn("tsm", expr("timestamp_micros(ts div 1000)"))
            .select("tsm", "event_type", "value"))
      },
      run("s2_sessionize_timeout", "append") { df =>
        EventStream.sessionizeStreamTimeout(
          df.select(col("user_id"), col("ts"), col("value"))
            .as[EventStream.Ev],
          30L * 60 * 1000 * 1000 * 1000).toDF()
      },
      run("s6_hll_window", "update") { df =>
        EventStream.hllDistinctStream(
          df.select(
            unix_micros(expr("date_trunc('hour', timestamp_micros(ts div 1000))"))
              .as("wstart"),
            col("user_id").cast("string").as("key"))
            .as[EventStream.KeyedEv]).toDF()
      },
      run("s7_cms_window", "update") { df =>
        EventStream.cmsHeavyStream(
          df.select(
            unix_micros(expr("date_trunc('hour', timestamp_micros(ts div 1000))"))
              .as("wstart"),
            col("event_type").as("key"))
            .as[EventStream.KeyedEv]).toDF()
      },
      run("w17_inventory_tws", "append") { df =>
        EventStream.inventoryStream(
          df.select(col("user_id"), col("ts"), col("event_id"),
            when(col("event_type") === "purchase", col("value"))
              .otherwise(-col("value") / 4).as("delta"))
            .as[EventStream.InvEv]).toDF()
      })

    println(s"""{"metric":"stream_scale","sf_dir":${jq(sfDir)},""" +
      s""""total_rows":$totalRows,"files":$nParts,""" +
      s""""files_per_trigger":$perTrigger,"queries":{${results.mkString(",")}}}""")
    spark.stop()
  }
}
