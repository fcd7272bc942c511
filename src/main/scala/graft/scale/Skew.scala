package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities for hot grouping keys at cluster scale.
  *
  * AQE's skew-join splitting handles join-side skew automatically
  * (enabled in Graft.envSession); salted aggregation is the manual
  * equivalent for groupBy on pathological key distributions: phase 1
  * aggregates on (key, salt) so a hot key spreads over `salts`
  * reducers, phase 2 merges the partials — algebraic aggregates only.
  */
object Skew {

  /** Two-phase salted sum/count per key; identical results to a direct
    * groupBy, but a hot key fans out over `salts` partitions first. */
  def saltedSumCount(df: DataFrame, keys: Seq[String], valueCol: String,
      salts: Int): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(hash(monotonically_increasing_id()), lit(salts)))
    salted
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(sum(col(valueCol)).as("__psum"), count(lit(1)).as("__pcnt"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__psum")).as(s"sum_$valueCol"),
        sum(col("__pcnt")).as("count"))
  }

  /** Salted replicate join for join-side skew: each fact row gets a
    * salt in [0, salts); the build side is replicated once per salt
    * value and the join runs on (key, salt), so a hot fact key spreads
    * over `salts` reducer partitions instead of one straggler task.
    * Results are EXACTLY the plain inner join's — the salt is a
    * partitioning artifact, never a semantic key (SkewSpec pins the
    * equality). The cost is `salts`× the build side, which is why the
    * build side must be the small one. AQE's skew-join split does this
    * automatically for sort-merge joins at runtime; explicit salting
    * remains the tool when skew is known ahead of time (static layouts,
    * bucketed joins AQE won't touch) or lives under an exchange reuse. */
  def saltedJoin(fact: DataFrame, build: DataFrame, key: String,
      salts: Int): DataFrame = {
    val saltedFact = fact.withColumn("__salt",
      pmod(hash(monotonically_increasing_id()), lit(salts)))
    val replicated = build.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedFact.join(replicated, Seq(key, "__salt")).drop("__salt")
  }
}
