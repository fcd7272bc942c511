package graft.scale

import graft.Graft
import graft.streaming.EventStream
import graft.io.ApiJson.jstr
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Replica-scale exactly-once recovery proof: kill a stateful stream
  * MID-REPLAY and show the checkpoint restart converges to the
  * byte-identical result of an uninterrupted run.
  *
  * StreamingSpec proves checkpoint-restart at fixture scale; this
  * harness proves it on a scale replica's events through the richest
  * state (s2 sessionize: flatMapGroupsWithState, event-time timeout,
  * RocksDB provider) with a real file sink — the sink's _spark_metadata
  * commit log is what makes a replayed batch invisible to readers, so
  * comparing the two output TABLES (not directories) is the
  * end-to-end exactly-once statement.
  *
  * Protocol: run A replays all N micro-batches uninterrupted. Run B
  * starts the identical query on its own checkpoint/output, is
  * stop()ped as soon as roughly half the batches committed (stop
  * aborts any in-flight batch — its offsets are planned in the WAL but
  * uncommitted), then restarts from the checkpoint with the same
  * options and runs to completion. Batch composition after restart is
  * pinned by the offset log, so watermark progression — which decides
  * WHEN sessions flush — is identical to run A's by construction; the
  * comparison below then proves it.
  *
  * Usage: runMain graft.scale.StreamRecover <sfDir> [files=32] [filesPerTrigger=2]
  */
object StreamRecover {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val nFiles = if (args.length > 1) args(1).toInt else 32
    val perTrigger = if (args.length > 2) args(2).toInt else 2
    val spark = Graft.envSession("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._

    val replayDir = "target/tmp/recover_replay"
    val base = s"target/tmp/recover_${System.nanoTime()}"
    val (totalRows, nParts) = StreamScale.prepareReplay(spark, sfDir, nFiles, replayDir)
    val totalBatches = math.ceil(nParts.toDouble / perTrigger).toInt
    System.err.println(s"[recover] corpus: $totalRows rows, $nParts files, " +
      s"$totalBatches planned batches")

    val sch = spark.read.parquet(replayDir).schema
    def sessions(): DataFrame =
      EventStream.sessionizeStreamTimeout(
        spark.readStream.schema(sch)
          .option("maxFilesPerTrigger", perTrigger)
          .option("latestFirst", "false")
          .parquet(replayDir)
          .select(col("user_id"), col("ts"), col("value"))
          .as[EventStream.Ev],
        30L * 60 * 1000 * 1000 * 1000).toDF()

    def start(tag: String) = sessions().writeStream.format("parquet")
      .option("path", s"$base/out_$tag")
      .option("checkpointLocation", s"$base/ck_$tag")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()

    // --- Run A: uninterrupted baseline.
    val t0 = System.nanoTime()
    start("a").awaitTermination()
    val wallA = (System.nanoTime() - t0) / 1e9

    // --- Run B: stop mid-replay, restart from the checkpoint.
    val qb = start("b")
    val target = math.max(1, totalBatches / 2)
    while (qb.isActive &&
      Option(qb.lastProgress).map(_.batchId).getOrElse(-1L) < target - 1) {
      Thread.sleep(200)
    }
    val killedAfter = Option(qb.lastProgress).map(_.batchId + 1).getOrElse(0L)
    qb.stop()
    qb.awaitTermination()
    // The proof is only a RECOVERY proof if the kill landed mid-replay:
    // on a small/fast replay, run B can drain every batch before the
    // poll loop observes it, and the comparison would degenerate to two
    // uninterrupted runs that print identical:true vacuously.
    require(killedAfter < totalBatches,
      s"kill landed after replay completed ($killedAfter of $totalBatches " +
        "batches) — recovery proof would be vacuous; rerun with more " +
        "files / fewer filesPerTrigger")
    System.err.println(s"[recover] killed run B after batch ${killedAfter - 1}")
    val t1 = System.nanoTime()
    start("b").awaitTermination() // same checkpoint + sink: resumes
    val wallB = (System.nanoTime() - t1) / 1e9

    // --- Compare the two sink TABLES (reads go through _spark_metadata,
    // so only committed batches are visible — the exactly-once claim).
    val a = spark.read.parquet(s"$base/out_a")
    val b = spark.read.parquet(s"$base/out_b")
    val rowsA = a.count()
    val rowsB = b.count()
    val aMinusB = a.exceptAll(b).count()
    val bMinusA = b.exceptAll(a).count()
    val identical = rowsA == rowsB && aMinusB == 0 && bMinusA == 0

    println(s"""{"metric":"stream_recover","sf_dir":${jstr(sfDir)},""" +
      s""""total_rows":$totalRows,"files":$nParts,"files_per_trigger":$perTrigger,""" +
      s""""killed_after_batches":$killedAfter,"planned_batches":$totalBatches,""" +
      s""""rows_a":$rowsA,"rows_b":$rowsB,""" +
      s""""a_minus_b":$aMinusB,"b_minus_a":$bMinusA,""" +
      s""""identical":$identical,""" +
      s""""wall_uninterrupted_s":${f"$wallA%.2f"},"wall_recovered_s":${f"$wallB%.2f"}}""")
    if (!identical) sys.exit(1)
    spark.stop()
  }
}
