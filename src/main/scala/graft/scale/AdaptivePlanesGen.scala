package graft.scale

import graft.Graft
import graft.vector.VectorOps

/** One-shot generator for the committed adaptive-LSH plane table
  * (`data/adaptive_planes/`), the shared randomness behind the d5a
  * oracle gate.
  *
  * The engine's adaptive near-dup path ([[VectorOps.lshNearDupAdaptive]])
  * derives its hyperplanes from the seed alone via counter-based
  * splitmix64 + Box–Muller ([[VectorOps.gaussianPlanes]]) — plane i is
  * a pure function of (seed, i, j), independent of how many planes a
  * given corpus density asks for. That lets BOTH engines share one
  * materialized prefix: this main dumps planes 0..count-1 for the
  * library seed (42) at the testdata embedding dimension (64) to a
  * single-part parquet that the DuckDB oracle reads with
  * `read_parquet`, while the Spark side keeps generating the identical
  * values inline (doubles round-trip parquet exactly;
  * AdaptiveOracleSpec pins file == function bit-for-bit, so formula
  * drift fails tests before it can desync the oracle).
  *
  * The default count (6400) covers every banding the policy can choose
  * up to bits = 10, i.e. corpora up to ~65 k distinct vectors at the
  * library defaults — all oracle-gated scales (sf0.01 … sf1 replicas).
  * Larger corpora only run the engine side (no DuckDB replay), and a
  * future bigger gate just regenerates with a larger count: existing
  * plane ids keep their values by construction.
  *
  * Usage: runMain graft.scale.AdaptivePlanesGen [outDir] [count] [dim]
  */
object AdaptivePlanesGen {
  def main(args: Array[String]): Unit = {
    val out = if (args.length > 0) args(0) else "data/adaptive_planes"
    val count = if (args.length > 1) args(1).toInt else 6400
    val dim = if (args.length > 2) args(2).toInt else 64
    val spark = Graft.envSession()
    import spark.implicits._
    VectorOps.gaussianPlanes(42L, count, dim).zipWithIndex
      .map { case (pe, pid) => (pid.toLong, pe.toSeq) }.toSeq
      .toDF("pid", "pe")
      .coalesce(1).write.mode("overwrite").parquet(out)
    // Keep the directory minimal for committing: one part file only.
    val dir = new java.io.File(out)
    dir.listFiles().filterNot(_.getName.endsWith(".parquet")).foreach(_.delete())
    println(s"wrote $count planes (dim $dim, seed 42) to $out")
    spark.stop()
  }
}
