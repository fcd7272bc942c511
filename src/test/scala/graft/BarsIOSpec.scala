package graft

import graft.io.BarsIO
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** `BarsIO`'s reader for the reference's wide CSV over the committed
  * `dashboard_wide.csv` (5 symbols × 40 days, 2024-01-01..2024-02-09;
  * volume = 1000 + 10·day + symbol index; "None" closes: all of ZZZ,
  * VOO on 01-08 and 01-22, SPY on 01-31), with expectations read off
  * the file by hand. */
class BarsIOSpec extends SparkSpec {

  private val csv = Paths.get(getClass.getResource("/dashboard_wide.csv").toURI).toString
  private val symbols = Seq("AAA", "BBB", "SPY", "VOO", "ZZZ")

  test("readWideCsv: Date stays a string, volumes are long, prices double") {
    val wide = BarsIO.readWideCsv(spark, csv)
    val fields = Seq("Open", "High", "Low", "Close", "Volume")
    assert(wide.columns.toSeq == "Date" +: symbols.flatMap(s => fields.map(f => s"${s}_$f")))
    for (f <- wide.schema.fields) {
      val want = if (f.name == "Date") StringType
        else if (f.name.endsWith("_Volume")) LongType else DoubleType
      assert(f.dataType == want, f)
    }
    val first = wide.orderBy("Date").head()
    assert(first.getAs[String]("Date") == "2024-01-01")
    assert(first.getAs[Double]("AAA_Open") == 99.0)
    assert(first.getAs[Double]("BBB_Close") == 203.37)
    assert(first.getAs[Long]("VOO_Volume") == 1003L)
    assert(first.isNullAt(first.fieldIndex("ZZZ_Close")))
  }

  test("readWideCsv: \"None\" and empty cells read as null") {
    val wide = BarsIO.readWideCsv(spark, csv)
    assert(wide.count() == 40)
    for (s <- symbols; f <- Seq("Open", "High", "Low", "Volume"))
      assert(wide.filter(s"${s}_$f IS NULL").count() == 0, s"${s}_$f")
    def nullCloses(s: String) =
      wide.filter(s"${s}_Close IS NULL").select("Date").collect().map(_.getString(0)).sorted.toSeq
    assert(nullCloses("AAA").isEmpty && nullCloses("BBB").isEmpty)
    assert(nullCloses("SPY") == Seq("2024-01-31"))
    assert(nullCloses("VOO") == Seq("2024-01-08", "2024-01-22"))
    assert(nullCloses("ZZZ").size == 40)

    // the fixture has no empty cells; the reader treats them like "None"
    val dir = Files.createTempDirectory("graftbarsio")
    val small = dir.resolve("empty.csv")
    Files.writeString(small, "Date,AAA_Open,AAA_High,AAA_Low,AAA_Close,AAA_Volume\n" +
      "2024-01-01,1.5,,None,2.5,\n2024-01-02,,2.0,1.0,None,7\n")
    val rows = BarsIO.readWideCsv(spark, small.toString).orderBy("Date").collect()
    assert(rows.map(_.toSeq).toSeq == Seq(
      Seq("2024-01-01", 1.5, null, null, 2.5, null),
      Seq("2024-01-02", null, 2.0, 1.0, null, 7L)))
  }

  test("readLong: one typed row per (date, symbol), nulls carried through") {
    val long = BarsIO.readLong(spark, csv)
    assert(long.schema.map(f => f.name -> f.dataType) == Seq(
      "date" -> StringType, "symbol" -> StringType, "open" -> DoubleType,
      "high" -> DoubleType, "low" -> DoubleType, "close" -> DoubleType,
      "volume" -> LongType))
    val rows = long.collect()
    assert(rows.length == 200)
    assert(rows.map(r => (r.getString(0), r.getString(1))).distinct.length == 200)
    assert(rows.map(_.getString(1)).distinct.sorted.toSeq == symbols)

    // volume = 1000 + 10·(day index) + (symbol index) on every row
    val days = rows.map(_.getString(0)).distinct.sorted
    assert(days.length == 40 && days.head == "2024-01-01" && days.last == "2024-02-09")
    for (r <- rows)
      assert(r.getLong(6) == 1000L + 10 * days.indexOf(r.getString(0)) +
        symbols.indexOf(r.getString(1)), r)

    val nullClose = rows.filter(_.isNullAt(5)).map(r => (r.getString(1), r.getString(0)))
    assert(nullClose.count(_._1 == "ZZZ") == 40)
    assert(nullClose.filterNot(_._1 == "ZZZ").sorted.toSeq ==
      Seq("SPY" -> "2024-01-31", "VOO" -> "2024-01-08", "VOO" -> "2024-01-22"))

    val aaa = rows.find(r => r.getString(0) == "2024-02-09" && r.getString(1) == "AAA").get
    assert(aaa.toSeq == Seq("2024-02-09", "AAA", 58.89, 60.07, 58.29, 59.48, 1390L))
  }

  test("readWideCsv takes Spark's inferred header without running a job") {
    val dir = Files.createTempDirectory("graftheader")
    def write(rel: String, text: String): String = {
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text).toString
    }
    val rows = (1 to 5).map(i => s"2024-01-0$i,${100 + i}.5,${200 + i}").mkString("\n")
    try {
      // a writer's output directory: one part file beside hidden files
      write("single/part-00000.csv", s"Date,AAA_Close,AAA_Volume\n$rows\n")
      write("single/_SUCCESS", "")
      write("single/.part-00000.csv.crc", "Date,XXX_Close\n")
      // the larger file holds the header inference reads, not the first by name
      write("two/a.csv", "Date,AAA_Close\n2024-01-01,1.0\n")
      write("two/b.csv", s"Date,BBB_Close,BBB_Volume\n$rows\n")
      val cases = Seq(
        dir.resolve("single").toString,
        dir.resolve("two").toString,
        // duplicate and empty names, made safe the way inference makes them
        write("plain.csv", s"Date,AAA_Close,AAA_Close,,AAA_Volume\n$rows\n"),
        write("blank.csv", s"\n   \nDate,CCC_Close,CCC_Volume\n$rows\n"))
      for (path <- cases) {
        val inferred = spark.read.option("header", "true").csv(path).columns.toSeq
        assert(BarsIO.headerSchema(spark, path).map(_.fieldNames.toSeq).contains(inferred), path)
        val (wide, n, _) = jobs(BarsIO.readWideCsv(spark, path))
        assert(n == 0, s"$path: building the frame ran $n jobs")
        assert(wide.columns.toSeq == inferred, path)
      }
      assert(spark.read.option("header", "true").csv(cases(1)).columns.toSeq ==
        Seq("Date", "BBB_Close", "BBB_Volume"))
      assert(spark.read.option("header", "true").csv(cases(2)).columns.toSeq ==
        Seq("Date", "AAA_Close1", "AAA_Close2", "_c3", "AAA_Volume"))
      // a glob is left to Spark's inference
      assert(BarsIO.headerSchema(spark, s"$dir/two/*.csv").isEmpty)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
