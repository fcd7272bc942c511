package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-replica generator: materializes an N× copy of a driver sf
  * directory so the catalog can be exercised above the shipped sf0.1
  * (the sandbox ships sf0.001/0.01/0.1 only; the scale gate in
  * SCALE_r05.md needs ~sf1).
  *
  * Each replica i gets every surrogate key offset by i×stride with ONE
  * stride per keyspace, applied consistently on both sides of every FK
  * (orderkey on orders+lineitem, custkey on customer+orders, partkey /
  * suppkey on part / supplier / lineitem, user_id+event_id on events,
  * doc_id / vec_id on documents / embeddings) — so join fan-in per key
  * is unchanged and only the number of keys grows, which is exactly how
  * TPC-H itself scales. `nation`/`region` stay fixed (as in TPC-H) and
  * nationkeys are NOT offset, so dimension joins stay broadcast-sized.
  *
  * Two payload modes:
  *  - **clone** (default): payload columns (text, embeddings, prices,
  *    timestamps) are copied verbatim — the corpus becomes 90 % exact
  *    duplicates across replicas, a deliberately adversarial stress for
  *    the dedup/LSH family (bucket sizes ×N ⇒ candidate pairs ×N²).
  *    Blind spot: distinct-VALUE cardinality stays constant at every
  *    factor, so single-task sweeps over distinct values (CDF ranks,
  *    distinct counts, near-dup shingles) never show in clone timings.
  *  - **jitter**: value-bearing payloads are perturbed per replica so
  *    their distinct cardinality scales ~linearly with the factor, the
  *    way real continuous data does: `events.value` and every price
  *    move by `__rep` cents (stays on the 2-decimal grid the w13
  *    contract enforces, bounded by +0.01·factor), document text gets
  *    a per-replica suffix token (shingle/fingerprint spaces scale;
  *    length-family stats shift by one token), and embedding dim 0
  *    moves by `__rep`·1e-4 (cosine neighborhoods survive, exact-dup
  *    vectors don't). FK structure is identical in both modes.
  *
  * Usage: runMain graft.ScaleData <srcSfDir> <outDir> [factor=10] [jitter]
  *          [tables=t1,t2,...]
  * The optional 5th arg restricts the build to a table subset — the r12
  * sf100 dedup/ANN probe only reads documents+embeddings, and a
  * factor-1000 lineitem (~600 M rows) would cost build time and ~15 GB
  * of disk that no probe query ever scans.
  */
object ScaleData {
  // Strides sit above any key the driver generates at sf0.1 (max
  // observed: o_orderkey 6e5, event_id 1e5) with room for sf10 sources.
  private val strides: Map[String, Long] = Map(
    "c_custkey" -> 10000000L,
    "o_custkey" -> 10000000L,
    "o_orderkey" -> 100000000L,
    "l_orderkey" -> 100000000L,
    "p_partkey" -> 10000000L,
    "l_partkey" -> 10000000L,
    "s_suppkey" -> 1000000L,
    "l_suppkey" -> 1000000L,
    "event_id" -> 100000000L,
    "user_id" -> 10000000L,
    "doc_id" -> 10000000L,
    "vec_id" -> 10000000L)

  private val fixed = Set("region", "nation")

  /** Cent-grid price/value columns perturbed in jitter mode. */
  private val centJitter: Map[String, Seq[String]] = Map(
    "events" -> Seq("value"),
    "lineitem" -> Seq("l_extendedprice"),
    "orders" -> Seq("o_totalprice"),
    "part" -> Seq("p_retailprice"))

  private def jitterTable(t: String, df: DataFrame): DataFrame = {
    val cents = centJitter.getOrElse(t, Nil).foldLeft(df) { (acc, c) =>
      acc.withColumn(c, col(c) + col("__rep") * lit(0.01))
    }
    t match {
      case "documents" =>
        cents.withColumn("text",
            concat(col("text"), lit(" r"), col("__rep").cast("string")))
          .withColumn("n_chars", length(col("text")))
      case "embeddings" =>
        cents.withColumn("embedding",
          transform(col("embedding"), (x, i) =>
            when(i === 0, x + (col("__rep") * lit(1e-4)).cast("float"))
              .otherwise(x)))
      case _ => cents
    }
  }

  val allTables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def replicate(spark: SparkSession, src: String, out: String, factor: Int,
      jitter: Boolean = false, tables: Seq[String] = allTables): Unit = {
    tables.foreach { t =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      val scaled: DataFrame =
        if (fixed(t)) df
        else {
          // Cross join with a replica-id range and shift the key columns;
          // one wide scan per table, no driver-side loop over replicas.
          val reps = spark.range(factor).select(col("id").as("__rep"))
          val crossed = df.crossJoin(broadcast(reps))
          val shifted = df.columns.foldLeft(crossed) { (acc, c) =>
            strides.get(c) match {
              case Some(s) => acc.withColumn(c, col(c) + col("__rep") * lit(s))
              case None => acc
            }
          }
          (if (jitter) jitterTable(t, shifted) else shifted).drop("__rep")
        }
      // Match the driver layout ("$dir/$name.parquet"; a directory with
      // that name works too). File granularity is the scan-parallelism
      // ceiling for parquet (a ~16 MB file is one row group, and a row
      // group is indivisible), so write enough parts that a 32-thread
      // local run can scan the big tables 32-wide — mirroring how a real
      // 100 TB dataset arrives as thousands of block-sized files.
      val parts = if (fixed(t)) 1 else (factor * 8).min(64)
      scaled.repartition(parts).write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scale] $t -> ${if (fixed(t)) "copied" else s"x$factor"}")
    }
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "target/scale/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val jitter = args.length > 3 && args(3) == "jitter"
    val tables =
      if (args.length > 4) {
        val ts = args(4).split(",").toSeq
        val unknown = ts.filterNot(allTables.contains)
        require(unknown.isEmpty, s"unknown tables: ${unknown.mkString(",")}")
        ts
      } else allTables
    val spark = Graft.envSession()
    replicate(spark, src, out, factor, jitter, tables)
    spark.stop()
  }
}
