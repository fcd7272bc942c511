package graft
import graft.io.ApiJson.jstr
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional 3rd arg (local iteration only — the driver passes 2):
    // comma-separated query names to dump, instead of the full catalog.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Graft.envSession()
    dump(spark, sfDir, outDir, only)
    spark.stop()
  }

  /** Writes every catalog query over `sfDir` (or the ones named in
    * `only`) to `outDir/<name>` as one parquet part, then
    * `oracle_sql.json` and `run_env.json`, in `spark`. A query that fails
    * is logged and recorded in `run_env.json`'s `errors`, and the dump
    * goes on. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]] = None): Unit = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        RunEnv.record(e, name)
      } finally
        // No query's materialized frames outlive its dump.
        Graft.releaseMaterialized(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Run-env fingerprint (sha/cpus/heap/GC/loadavg, and in `errors`
    // every query that failed to dump) alongside the dump:
    // scripts/oracle_check.py embeds it in its correctness artifact so
    // every rung JSON is self-describing (r10 verdict item 1).
    Files.writeString(Paths.get(s"$outDir/run_env.json"), RunEnv.json(Graft.cpus, 1))
  }
}
