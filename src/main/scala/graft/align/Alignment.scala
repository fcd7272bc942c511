package graft.align

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Master-calendar alignment (reference etl/data_unifier.py — SURVEY.md
  * §2.3 J1-J3).
  *
  * Scale: the calendar is tiny (distinct dates), the symbol dim is tiny →
  * calendar × symbols is a broadcast-able frame; the left join against the
  * bar table shuffles once on (date, symbol) — or broadcasts the scaffold
  * side entirely. The pivot runs as groupBy(date) with map-side partials.
  */
object Alignment {

  /** J1: union-distinct master calendar, ascending (data_unifier.py:14-70).
    * Keeps the input column name so callers can join back on it. */
  def masterCalendar(df: DataFrame, dateCol: String = "date"): DataFrame =
    df.select(col(dateCol)).distinct().orderBy(dateCol)

  /** J2: align every symbol to the master calendar — calendar × symbols
    * LEFT JOIN bars; missing dates yield null-padded rows
    * (data_unifier.py:73-154). */
  def alignToCalendar(bars: DataFrame, keyCol: String = "symbol",
      dateCol: String = "date"): DataFrame = {
    val calendar = masterCalendar(bars, dateCol)
    val symbols = bars.select(col(keyCol)).distinct()
    broadcast(calendar.crossJoin(symbols))
      .join(bars, Seq(dateCol, keyCol), "left")
  }

  /** J3: wide master assembly — one row per date, columns sym_Field
    * (data_unifier.py:157-223). `fields` keeps the reference's
    * capitalized suffixes. */
  def pivotWide(bars: DataFrame, symbols: Seq[String],
      fields: Seq[(String, String)] = Seq("open" -> "Open", "high" -> "High",
        "low" -> "Low", "close" -> "Close", "volume" -> "Volume")): DataFrame = {
    val aggs = fields.map { case (src, suffix) => first(col(src)).as(suffix) }
    val pivoted = bars.groupBy("date")
      .pivot("symbol", symbols)
      .agg(aggs.head, aggs.tail: _*)
    // Spark names pivot outputs "SYM_Suffix" already when multiple aggs are
    // aliased; normalize to the reference's `SYM_Field` exactly.
    pivoted.orderBy("date")
  }

  /** The symbols of a wide frame, sorted: one per `*_Close` header, like
    * the reference discovers them (app.py:80-85). */
  def wideSymbols(wide: DataFrame): Seq[String] =
    wide.columns.toSeq.filter(_.endsWith("_Close")).map(_.stripSuffix("_Close")).sorted

  /** Inverse of J3 for reading the reference's wide CSV: melt sym_Field
    * columns of every [[wideSymbols]] symbol back to the long bar schema. */
  def wideToLong(wide: DataFrame): DataFrame = {
    val symbols = wideSymbols(wide)
    val stacks = symbols.map { s =>
      struct(lit(s).as("symbol"), col(s + "_Open").as("open"), col(s + "_High").as("high"),
        col(s + "_Low").as("low"), col(s + "_Close").as("close"),
        col(s + "_Volume").cast("long").as("volume"))
    }
    wide.select(col("Date").as("date"), explode(array(stacks.toIndexedSeq: _*)).as("bar"))
      .select("date", "bar.*")
  }
}
