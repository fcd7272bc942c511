package graft

import graft.functions.GlobalRank
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GlobalRank must be bit-identical to the single-partition window
  * idiom it replaces (row_number / ntile over an unpartitioned Window),
  * including ntile's uneven-bucket arithmetic and duplicate sort-key
  * values under a unique tiebreaker. */
class GlobalRankSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(seed: Int, n: Int) = {
    val rnd = new scala.util.Random(seed)
    // heavy duplication in the primary key: ranks must come from the
    // (value, id) total order, not value alone
    (1 to n).map(i => (i.toLong, rnd.nextInt(40).toDouble))
      .toDF("id", "v")
      // spread across partitions so offsets actually matter
      .repartition(7)
  }

  test("withRowNumber matches global window row_number") {
    Seq((1, 257), (2, 1000), (3, 31)).foreach { case (seed, n) =>
      val df = fixture(seed, n)
      val expected = df.withColumn("r",
        row_number().over(Window.orderBy(col("v"), col("id"))))
      val got = GlobalRank.withRowNumber(df, "r", col("v"), col("id"))
      assert(got.select("id", "v", "r").exceptAll(
        expected.select("id", "v", "r")).isEmpty, s"seed $seed")
      assert(expected.select("id", "v", "r").exceptAll(
        got.select("id", "v", "r")).isEmpty, s"seed $seed")
    }
  }

  test("withNtile matches global window ntile, incl. uneven buckets") {
    // n chosen to exercise rem = 0, rem > 0, and n < buckets
    Seq((1, 840, 84), (2, 1013, 84), (3, 40, 84), (4, 1000, 7)).foreach {
      case (seed, n, b) =>
        val df = fixture(seed, n)
        val expected = df.withColumn("z",
          ntile(b).over(Window.orderBy(col("v"), col("id"))).cast("long"))
        val got = GlobalRank.withNtile(df, "z", b, col("v"), col("id"))
        assert(got.select("id", "v", "z").exceptAll(
          expected.select("id", "v", "z")).isEmpty, s"seed $seed n=$n b=$b")
        assert(expected.select("id", "v", "z").exceptAll(
          got.select("id", "v", "z")).isEmpty, s"seed $seed n=$n b=$b")
    }
  }

  test("single distinct sort key: trailing range partitions are empty, no crash") {
    // repartitionByRange on one distinct key ranges every row into
    // partition 0 and leaves the rest EMPTY; the offset broadcast must
    // cover those pids (regression: ArrayIndexOutOfBoundsException when
    // the array was sized by the max NON-EMPTY pid).
    val df = (1 to 100).map(i => (i.toLong, 42.0)).toDF("id", "v")
      .repartition(7)
    val r = GlobalRank.withRowNumber(df, "r", col("v"), col("id"))
      .select("r").as[Long].collect().sorted
    assert(r.toSeq == (1L to 100L))
    val z = GlobalRank.withNtile(df, "z", 4, col("v"), col("id"))
      .groupBy("z").count().as[(Long, Long)].collect().sortBy(_._1)
    assert(z.toSeq == Seq((1L, 25L), (2L, 25L), (3L, 25L), (4L, 25L)))
    val g = GlobalRank.withGroupRowNumber(df, "r", Seq("v"), col("id"))
      .select("r").as[Long].collect().sorted
    assert(g.toSeq == (1L to 100L))
  }

  test("ranks are a permutation of 1..n") {
    val df = fixture(9, 500)
    val r = GlobalRank.withRowNumber(df, "r", col("v"), col("id"))
      .select("r").as[Long].collect().sorted
    assert(r.toSeq == (1L to 500L))
  }

  /** One grouped row per key with long counts — the shape every
    * withPrefixSums call site feeds (per-value jump counts). Includes
    * nulls in a summed column to pin null-as-zero. */
  private def sumFixture(seed: Int, n: Int) = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      val b: java.lang.Long =
        if (rnd.nextInt(10) == 0) null else rnd.nextInt(100).toLong
      (i.toLong, rnd.nextInt(50).toLong, b)
    }.toDF("k", "a", "b").repartition(7)
  }

  test("withPrefixSums (inclusive) matches unbounded-preceding window sums") {
    Seq((1, 257), (2, 1000), (3, 3)).foreach { case (seed, n) =>
      val df = sumFixture(seed, n)
      val w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
      val expected = df
        .withColumn("ca", sum(col("a")).over(w))
        .withColumn("cb", coalesce(sum(col("b")).over(w), lit(0L)))
      val got = GlobalRank.withPrefixSums(df,
        Seq("a" -> "ca", "b" -> "cb"), inclusive = true, col("k"))
      assert(got.select("k", "ca", "cb").exceptAll(
        expected.select("k", "ca", "cb")).isEmpty, s"seed $seed")
      assert(expected.select("k", "ca", "cb").exceptAll(
        got.select("k", "ca", "cb")).isEmpty, s"seed $seed")
    }
  }

  test("withPrefixSums (exclusive) matches 1-preceding window sums") {
    Seq((4, 513), (5, 64)).foreach { case (seed, n) =>
      val df = sumFixture(seed, n)
      val w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
      val expected = df
        .withColumn("ca", coalesce(sum(col("a")).over(w), lit(0L)))
      val got = GlobalRank.withPrefixSums(df,
        Seq("a" -> "ca"), inclusive = false, col("k"))
      assert(got.select("k", "ca").exceptAll(
        expected.select("k", "ca")).isEmpty, s"seed $seed")
      assert(expected.select("k", "ca").exceptAll(
        got.select("k", "ca")).isEmpty, s"seed $seed")
    }
  }

  /** Group fixture: few groups (the bounded-cardinality contract),
    * data-scaling rows per group, duplicate sort keys under a unique
    * tiebreaker, including a single-row group and a null summed value. */
  private def groupFixture(seed: Int, n: Int) = {
    val rnd = new scala.util.Random(seed)
    ((1 to n).map { i =>
      val b: java.lang.Long =
        if (rnd.nextInt(10) == 0) null else rnd.nextInt(100).toLong
      (i.toLong, s"g${rnd.nextInt(5)}", rnd.nextInt(40).toLong, b)
    } :+ ((n + 1).toLong, "solo", 7L, 3L: java.lang.Long))
      .toDF("id", "grp", "v", "b").repartition(7)
  }

  test("withGroupRowNumber matches partitionBy-window row_number") {
    Seq((11, 257), (12, 1000)).foreach { case (seed, n) =>
      val df = groupFixture(seed, n)
      val expected = df.withColumn("r", row_number().over(
        Window.partitionBy("grp").orderBy(col("v").desc, col("id"))).cast("long"))
      val got = GlobalRank.withGroupRowNumber(df, "r", Seq("grp"),
        col("v").desc, col("id"))
      assert(got.select("id", "grp", "r").exceptAll(
        expected.select("id", "grp", "r")).isEmpty, s"seed $seed")
      assert(expected.select("id", "grp", "r").exceptAll(
        got.select("id", "grp", "r")).isEmpty, s"seed $seed")
    }
  }

  test("withGroupPrefixSums matches partitionBy-window running sums") {
    Seq((13, 513), (14, 64)).foreach { case (seed, n) =>
      val df = groupFixture(seed, n)
      val w = Window.partitionBy("grp").orderBy(col("v"), col("id"))
      val expected = df
        .withColumn("cb", coalesce(sum(col("b")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)), lit(0L)))
        .withColumn("xb", coalesce(sum(col("b")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val inc = GlobalRank.withGroupPrefixSums(df, Seq("b" -> "cb"),
        inclusive = true, Seq("grp"), col("v"), col("id"))
      val exc = GlobalRank.withGroupPrefixSums(df, Seq("b" -> "xb"),
        inclusive = false, Seq("grp"), col("v"), col("id"))
      assert(inc.select("id", "cb").exceptAll(
        expected.select("id", "cb")).isEmpty, s"seed $seed inclusive")
      assert(expected.select("id", "cb").exceptAll(
        inc.select("id", "cb")).isEmpty, s"seed $seed inclusive")
      assert(exc.select("id", "xb").exceptAll(
        expected.select("id", "xb")).isEmpty, s"seed $seed exclusive")
      assert(expected.select("id", "xb").exceptAll(
        exc.select("id", "xb")).isEmpty, s"seed $seed exclusive")
    }
  }

  /** `got` and `expected` hold the same rows of `cols`. */
  private def sameRows(got: DataFrame, expected: DataFrame, cols: Seq[String],
      clue: String): Unit = {
    val (g, e) = (got.select(cols.map(col): _*), expected.select(cols.map(col): _*))
    assert(g.exceptAll(e).isEmpty && e.exceptAll(g).isEmpty, clue)
  }

  test("group variants keep a null group key as its own group") {
    val df = groupFixture(15, 300).withColumn("grp",
      when(col("id") % 4 === 0, lit(null).cast("string")).otherwise(col("grp")))
    val w = Window.partitionBy("grp").orderBy(col("v"), col("id"))
    val expected = df
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("cb", coalesce(sum(col("b")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)), lit(0L)))
      .withColumn("xb", coalesce(sum(col("b")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val rn = GlobalRank.withGroupRowNumber(df, "r", Seq("grp"), col("v"), col("id"))
    sameRows(rn, expected, Seq("id", "grp", "r"), "withGroupRowNumber")
    val inc = GlobalRank.withGroupPrefixSums(df, Seq("b" -> "cb"),
      inclusive = true, Seq("grp"), col("v"), col("id"))
    sameRows(inc, expected, Seq("id", "grp", "cb"), "withGroupPrefixSums inclusive")
    val exc = GlobalRank.withGroupPrefixSums(df, Seq("b" -> "xb"),
      inclusive = false, Seq("grp"), col("v"), col("id"))
    sameRows(exc, expected, Seq("id", "grp", "xb"), "withGroupPrefixSums exclusive")
  }

  /** Each function, built over the group fixture. */
  private def builds(df: DataFrame) = Seq[(String, () => DataFrame)](
    "withRowNumber" -> (() => GlobalRank.withRowNumber(df, "r", col("v"), col("id"))),
    "withNtile" -> (() => GlobalRank.withNtile(df, "z", 7, col("v"), col("id"))),
    "withPrefixSums" -> (() => GlobalRank.withPrefixSums(df, Seq("v" -> "cv"),
      inclusive = true, col("v"), col("id"))),
    "withGroupRowNumber" -> (() => GlobalRank.withGroupRowNumber(df, "r",
      Seq("grp"), col("v"), col("id"))),
    "withGroupPrefixSums" -> (() => GlobalRank.withGroupPrefixSums(df,
      Seq("v" -> "cv"), inclusive = true, Seq("grp"), col("v"), col("id"))))

  test("job ceilings: building each function launches no job") {
    // Jobs launched while the frame is built, before any action on the
    // result: the prefix pass is a plan node, so none.
    val counts = builds(groupFixture(16, 400)).map { case (name, build) =>
      name -> jobs(build())._2 }
    info(counts.map { case (n, j) => s"$n=$j" }.mkString(" "))
    counts.foreach { case (name, n) => assert(n == 0, s"$name launched $n jobs") }
  }

  test("job ceilings: executing each function launches <= 5 jobs, group variants <= 11") {
    // One collect of each built frame over the hash-repartitioned
    // fixture: that exchange, the range-bound sample, the range
    // exchange, the totals job and the result job. A group variant
    // runs the pass under its offset aggregate too.
    val ceiling = Map("withRowNumber" -> 5, "withNtile" -> 5, "withPrefixSums" -> 5,
      "withGroupRowNumber" -> 11, "withGroupPrefixSums" -> 11)
    val counts = builds(groupFixture(17, 400)).map { case (name, build) =>
      val df = build()
      name -> jobs(df.collect())._2 }
    info(counts.map { case (n, j) => s"$n=$j" }.mkString(" "))
    counts.foreach { case (name, n) =>
      assert(n <= ceiling(name), s"$name launched $n jobs") }
  }

  /** `f` over a new directory, deleted afterwards. */
  private def withTempDir(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-registry").toString
    try f(dir) finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("schema registry: a second Graft.table on an unchanged path launches no job") {
    withTempDir { dir =>
      spark.range(3).toDF("a").write.parquet(s"$dir/t.parquet")
      Graft.table(spark, dir, "t")
      val (t, n, _) = jobs(Graft.table(spark, dir, "t"))
      assert(n == 0, s"the second read launched $n jobs")
      assert(t.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    }
  }

  test("schema registry: a table rewritten under the same path shows its new schema") {
    withTempDir { dir =>
      spark.range(3).toDF("a").write.parquet(s"$dir/t.parquet")
      assert(Graft.table(spark, dir, "t").columns.toSeq == Seq("a"))
      spark.range(3).selectExpr("id AS a", "id * 2 AS b")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val t = Graft.table(spark, dir, "t")
      assert(t.columns.toSeq == Seq("a", "b"))
      assert(t.agg(sum("b")).head().getLong(0) == 6L)
    }
  }

  test("withPrefixSums rejects non-long columns and empty specs") {
    val df = sumFixture(6, 10).withColumn("d", col("a").cast("double"))
    intercept[IllegalArgumentException] {
      GlobalRank.withPrefixSums(df, Seq("d" -> "cd"), inclusive = true, col("k"))
    }
    intercept[IllegalArgumentException] {
      GlobalRank.withPrefixSums(df, Seq.empty, inclusive = true, col("k"))
    }
  }
}
