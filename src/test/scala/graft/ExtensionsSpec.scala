package graft

/** The native expressions are registered as SQL functions through
  * SparkSessionExtensions (Graft.envSession). */
class ExtensionsSpec extends SparkSpec {

  test("cosine_sim / dot_product / run_lengths callable from SQL") {
    val r = spark.sql(
      """SELECT
        |  cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
        |  dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |  run_lengths(array(1, 1, 0, 1)) AS r""".stripMargin).head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 11.0)
    assert(r.getSeq[Int](2) == Seq(2, 1))
  }

  test("cosine_sim / dot_product return null on unequal lengths (HOF parity)") {
    val r = spark.sql(
      """SELECT
        |  cosine_sim(array(1.0D, 0.0D, 5.0D), array(1.0D, 0.0D)) AS c,
        |  dot_product(array(1.0D), array(3.0D, 4.0D)) AS d""".stripMargin).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }
}
