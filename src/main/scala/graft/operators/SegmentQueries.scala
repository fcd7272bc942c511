package graft.operators

import graft.Graft
import graft.Graft.Q
import graft.dedup.Dedup
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Segment-level corpus curation (driver north-star, round 4): the
  * sub-document dedup layer of a training-data pipeline. Documents are
  * cut into non-overlapping 5-word segments (`Dedup.segments` — the
  * CCNet-style unit for bulk boilerplate removal, distinct from d4's
  * overlapping shingles for pairwise similarity), then:
  *
  *  - d8: per-document duplicated-segment fraction (the drop/trim
  *    signal line-level dedup uses);
  *  - t22: cross-source contamination matrix — how many distinct
  *    segments each pair of sources shares;
  *  - t23: the end-to-end curation funnel — per-source survival counts
  *    through the quality → repetition → exact-dedup gates.
  *
  * Scale shapes: every aggregation keys on the md5 segment hash or the
  * source/doc id — uniform keys, one shuffle each, no pairwise blowup
  * (t22's pair expansion is capped by a distinct-source bound per
  * segment, the same hot-key guard as d4's maxDf). At 100 TB the
  * segment stream is ~n_words/5 rows × 32-char hashes — a bounded
  * multiple of the input scan, all map-side until the keyed counts. */
object SegmentQueries {

  private val SegLen = 5

  /** t22 hot-segment guard: a segment present in more than this many
    * distinct sources is boilerplate noise ("the the the…") whose pair
    * fan-out grows quadratically; cap it like d4 caps shingle df. */
  private val MaxSources = 16

  /** Segment occurrences hashed for shuffle-payload economy: one row
    * per (doc, source, segment occurrence), seg replaced by md5. */
  private def segs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Dedup.segments(
      Graft.table(s, dir, "documents").select("doc_id", "source", "text"),
      SegLen)
      .select(col("doc_id"), col("source"), md5(col("seg")).as("h"))

  private val segsCte: String =
    s"""WITH w AS (
       |  SELECT doc_id, source,
       |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
       |         ELSE string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
       |    END AS ws
       |  FROM documents),
       |seg AS (
       |  SELECT doc_id, source,
       |    md5(array_to_string(ws[(i*$SegLen+1):(i*$SegLen+$SegLen)], ' ')) AS h
       |  FROM w, UNNEST(range(0, CAST(ceil(len(ws) / $SegLen.0) AS BIGINT))) t(i))
       |""".stripMargin

  /** D8: per-document duplicated-segment fraction. A segment occurrence
    * is "duplicated" when its value appears ≥2 times corpus-wide
    * (including within the same doc). One window count on the segment
    * hash + one per-doc aggregation; docs with zero segments keep
    * 0/0/0.0 via the left join back to the corpus. */
  val d8SegmentDedup: Q = (s, dir) => {
    val occ = segs(s, dir)
      .withColumn("c", count(lit(1)).over(Window.partitionBy("h")))
    val perDoc = occ.groupBy("doc_id").agg(
      count(lit(1)).as("n_segs"),
      count(when(col("c") >= 2, lit(1))).as("n_dup_segs"))
    Graft.table(s, dir, "documents").select("doc_id")
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("n_dup_segs"), lit(0L)).as("n_dup_segs"))
      .withColumn("dup_frac",
        when(col("n_segs") > 0,
          col("n_dup_segs").cast("double") / col("n_segs").cast("double"))
          .otherwise(lit(0.0)))
      .orderBy("doc_id")
  }

  val d8SegmentDedupSql: String = segsCte +
    """, c AS (SELECT h, COUNT(*) AS c FROM seg GROUP BY h),
      |perdoc AS (
      |  SELECT seg.doc_id, COUNT(*) AS n_segs,
      |    COUNT(CASE WHEN c.c >= 2 THEN 1 END) AS n_dup_segs
      |  FROM seg JOIN c USING (h) GROUP BY seg.doc_id)
      |SELECT d.doc_id,
      |  COALESCE(p.n_segs, 0) AS n_segs,
      |  COALESCE(p.n_dup_segs, 0) AS n_dup_segs,
      |  CASE WHEN COALESCE(p.n_segs, 0) > 0
      |       THEN CAST(p.n_dup_segs AS DOUBLE) / CAST(p.n_segs AS DOUBLE)
      |       ELSE CAST(0 AS DOUBLE) END AS dup_frac
      |FROM documents d LEFT JOIN perdoc p USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** T22: cross-source contamination matrix — distinct shared segments
    * per source pair. Distinct (source, hash) first (one shuffle), hot
    * segments capped at MaxSources distinct sources before the pair
    * self-join so the fan-out per segment is bounded. */
  val t22CrossSourceOverlap: Q = (s, dir) => {
    val srcSeg = segs(s, dir).select("source", "h").distinct()
    val eligible = srcSeg.groupBy("h")
      .agg(count(lit(1)).as("nsrc"))
      .filter(col("nsrc") >= 2 && col("nsrc") <= MaxSources)
      .select("h")
    val shared = srcSeg.join(eligible, "h")
    shared.select(col("source").as("src_a"), col("h"))
      .join(shared.select(col("source").as("src_b"), col("h")), "h")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("n_shared").desc, col("src_a"), col("src_b"))
  }

  val t22CrossSourceOverlapSql: String = segsCte +
    s""", srcseg AS (SELECT DISTINCT source, h FROM seg),
       |eligible AS (
       |  SELECT h FROM srcseg GROUP BY h
       |  HAVING COUNT(*) >= 2 AND COUNT(*) <= $MaxSources),
       |shared AS (SELECT source, h FROM srcseg JOIN eligible USING (h))
       |SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
       |FROM shared a JOIN shared b ON a.h = b.h AND a.source < b.source
       |GROUP BY 1, 2
       |ORDER BY n_shared DESC, src_a, src_b""".stripMargin

  /** T23: curation funnel — per-source survival through the pipeline's
    * gates, in order: token-length window [30, 10000] → duplicated-word
    * ratio ≤ 0.8 → exact-dedup keeper (md5 fingerprint, lowest doc_id
    * wins). Each gate is cumulative (a doc failing length never reaches
    * the dedup gate), so the four counts are monotone non-increasing —
    * the report a curation run actually ships. One window on the
    * fingerprint + one aggregation on source. */
  val t23CurationFunnel: Q = (s, dir) => {
    val ws = graft.text.QualitySignals.words(col("text"))
    val docs = Graft.table(s, dir, "documents")
      .withColumn("n",
        when(length(trim(col("text"))) === 0, 0).otherwise(size(ws)))
      .withColumn("dup_ratio",
        when(col("n") > 0,
          lit(1.0) - size(array_distinct(ws)).cast("double") / col("n").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("fp", graft.text.TextOps.fingerprint(col("text")))
      .withColumn("keeper", min(col("doc_id")).over(Window.partitionBy("fp")))
    docs
      .withColumn("q_ok", col("n") >= 30 && col("n") <= 10000)
      .withColumn("rep_ok", col("q_ok") && col("dup_ratio") <= 0.8)
      .withColumn("keep", col("rep_ok") && col("doc_id") === col("keeper"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("q_ok"), lit(1))).as("n_pass_len"),
        count(when(col("rep_ok"), lit(1))).as("n_pass_rep"),
        count(when(col("keep"), lit(1))).as("n_keep"))
      .orderBy("source")
  }

  val t23CurationFunnelSql: String =
    """WITH base AS (
      |  SELECT doc_id, source, text,
      |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |         ELSE string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
      |    END AS ws,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |  FROM documents),
      |flags AS (
      |  SELECT source, doc_id,
      |    len(ws) AS n,
      |    CASE WHEN len(ws) > 0
      |         THEN 1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / CAST(len(ws) AS DOUBLE)
      |         ELSE CAST(0 AS DOUBLE) END AS dup_ratio,
      |    MIN(doc_id) OVER (PARTITION BY fp) AS keeper
      |  FROM base),
      |gated AS (
      |  SELECT source,
      |    (n >= 30 AND n <= 10000) AS q_ok,
      |    (n >= 30 AND n <= 10000 AND dup_ratio <= 0.8) AS rep_ok,
      |    (n >= 30 AND n <= 10000 AND dup_ratio <= 0.8 AND doc_id = keeper) AS keep
      |  FROM flags)
      |SELECT source, COUNT(*) AS n_docs,
      |  COUNT(CASE WHEN q_ok THEN 1 END) AS n_pass_len,
      |  COUNT(CASE WHEN rep_ok THEN 1 END) AS n_pass_rep,
      |  COUNT(CASE WHEN keep THEN 1 END) AS n_keep
      |FROM gated
      |GROUP BY source
      |ORDER BY source""".stripMargin

  def queries: Map[String, Q] = Map(
    "d8_segment_dedup" -> d8SegmentDedup,
    "t22_cross_source_overlap" -> t22CrossSourceOverlap,
    "t23_curation_funnel" -> t23CurationFunnel,
  )

  def oracle: Map[String, String] = Map(
    "d8_segment_dedup" -> d8SegmentDedupSql,
    "t22_cross_source_overlap" -> t22CrossSourceOverlapSql,
    "t23_curation_funnel" -> t23CurationFunnelSql,
  )
}
