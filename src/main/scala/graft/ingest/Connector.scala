package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Chart ingest connector (SURVEY.md §2.1 S1/S2/S4) — the reference's
  * front door, re-expressed behind an interface so the engine never
  * depends on a live endpoint:
  *
  *  - S1 single-asset fetch: `fetchWithRetry` (reference
  *    etl/data_fetcher.py:265-283 `fetch_asset_data`);
  *  - S2 retry-on-timeout: up to `maxAttempts` tries, retrying ONLY on
  *    timeout-class failures with a fixed delay between attempts — any
  *    other failure propagates immediately (data_fetcher.py:104-121
  *    `_do_http_get_with_retry`);
  *  - S4 multi-asset fetch with the ≥`minSuccess` gate: per-symbol
  *    failures are recorded and skipped, and the whole batch throws only
  *    when fewer than `minSuccess` symbols produced a payload
  *    (data_fetcher.py:286-321 `fetch_multiple_assets`).
  *
  * The fetch itself is a DRIVER-side concern by design (SURVEY §2.1): k
  * symbols is connector-scale work (k ≈ dozens), while everything from
  * the JSON payload on — [[ChartJson.parse]], cleaning, alignment — runs
  * distributed. `fetchAll` therefore returns the (symbol, json)
  * DataFrame that [[graft.etl.EtlJob.run]] consumes, closing the §3.1
  * lifecycle: fetch → parse → clean → align → sink.
  *
  * Implementations: tests use fixture sources (EtlJobSpec); a production
  * HTTP source would implement [[ChartSource]] with the chart-API URL
  * scheme (data_fetcher.py:57-72) — deliberately not shipped here, since
  * the build environment has no egress and the engine contract only
  * needs the interface.
  */
trait ChartSource {
  /** Raw chart-JSON payload for `symbol` over Unix-seconds
    * [period1, period2]. Throws [[FetchTimeout]] on timeout-class
    * failures (retryable), anything else on permanent failures. */
  def fetch(symbol: String, period1: Long, period2: Long): String
}

/** Timeout-class fetch failure — the ONLY retryable error class, matching
  * the reference's "timed out"/"timeout" message test
  * (data_fetcher.py:113-116). */
final class FetchTimeout(msg: String)
  extends RuntimeException(msg)

object Connector {

  /** Per-symbol outcome of a batch fetch. */
  final case class FetchReport(
    succeeded: Seq[String], failed: Seq[(String, String)])

  /** Batch result: payload frame (symbol, json) + per-symbol report. */
  final case class FetchResult(payloads: DataFrame, report: FetchReport)

  /** S1+S2: fetch one symbol, retrying only timeouts, at most
    * `maxAttempts` total tries with `retryDelayMs` between them. A
    * non-timeout failure — or a timeout on the final attempt — is
    * rethrown to the caller (exactly data_fetcher.py:104-121). */
  def fetchWithRetry(source: ChartSource, symbol: String,
      period1: Long, period2: Long, maxAttempts: Int = 3,
      retryDelayMs: Long = 0L): String = {
    var attempt = 1
    while (true) {
      try return source.fetch(symbol, period1, period2)
      catch {
        case _: FetchTimeout if attempt < maxAttempts =>
          if (retryDelayMs > 0) Thread.sleep(retryDelayMs)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** S4: fetch every symbol (each with S2 retry), skip failures, and
    * enforce the ≥`minSuccess` gate. Empty payloads count as failures
    * (the reference's `if data:` non-empty check,
    * data_fetcher.py:309-311). A fatal error or an interrupt is not a
    * failed symbol: it stops the batch. Returns the (symbol, json) frame ready
    * for [[ChartJson.parse]] / [[graft.etl.EtlJob.run]]. */
  def fetchAll(spark: SparkSession, source: ChartSource,
      symbols: Seq[String], period1: Long, period2: Long,
      minSuccess: Int = 20, maxAttempts: Int = 3,
      retryDelayMs: Long = 0L): FetchResult = {
    import spark.implicits._
    val attempts = symbols.map { sym =>
      try {
        val json = fetchWithRetry(source, sym, period1, period2,
          maxAttempts, retryDelayMs)
        if (json != null && json.trim.nonEmpty) Right(sym -> json)
        else Left(sym -> "empty payload")
      } catch {
        case NonFatal(e) => Left(sym -> String.valueOf(e.getMessage))
      }
    }
    val ok = attempts.collect { case Right(p) => p }
    val bad = attempts.collect { case Left(f) => f }
    if (ok.size < minSuccess)
      throw new IllegalStateException(
        s"connector gate: only ${ok.size} of ${symbols.size} symbols " +
          s"fetched successfully (minSuccess=$minSuccess); failures: " +
          bad.map { case (s, m) => s"$s: $m" }.mkString("; "))
    FetchResult(ok.toDF("symbol", "json"),
      FetchReport(ok.map(_._1), bad))
  }
}
